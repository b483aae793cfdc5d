package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.index.TableIO
import graft.ops.Geocode
import graft.synth.Synth

/** Driver-facing operator queries (SparkEntry.queries) with their DuckDB
  * oracle mirrors (SparkEntry.oracleSql). Column names are aligned on both
  * sides (the driver sorts columns by name before hashing). Every derived
  * input comes from graft.synth.Synth so Spark and SQL stay in lock-step.
  */
object Queries {

  import Synth._

  // =================================================================
  // Forward geocode (flagship): B4/B8 → D1 → D2/E2 → H5/H6 → F2/F3
  // =================================================================

  def fwdGeocode(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forward(docPages(spark, sfDir), gazDf(spark))

  /** B4/E2 mask relevance (both sides): a stacked candidate's relev is the
    * COVERED-TOKEN count |tokens(place) ∪ tokens(region)| / 3 — overlapping
    * windows ("big data" under region "data") never double-count. */
  private val maskRelevSql =
    "CASE WHEN rid IS NULL THEN w ELSE len(list_distinct(list_cat(string_split(name, ' '), string_split(rname, ' ')))) / 3.0 END"

  /** The forward-geocode SQL pipeline over an effective gazetteer CTE `gaz`
    * — shared by fwd_geocode and its grid-index forms fwd_geocode_indexed,
    * fwd_geocode_fat and fwd_geocode_bucketed (same rows by D4-verify
    * equivalence), fwd_stacks (C2 filter) and fwd_dedup (E4 result dedupe). */
  private def forwardSql(gazCtes: String, stackFilter: Option[Seq[String]],
                         dedup: Boolean): String = {
    val cell12 = cellSql(12, "glon", "glat")
    val cell8 = cellSql(8, "glon", "glat")
    val sf = stackFilter
      .map(ss => s" AND g.stack IN (${ss.map(s => s"'$s'").mkString(", ")})")
      .getOrElse("")
    val preRank = if (!dedup) "scored" else "dd"
    val dedupCte = if (!dedup) "" else
      s"""|dd AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY doc_id, name, cell
          |                                 ORDER BY relev DESC, sd DESC, feature_id ASC) AS dn
          |    FROM scored) WHERE dn = 1),
          |""".stripMargin
    s"""WITH $gazCtes,
       |docs AS (${docPagesSql}),
       |mention AS (
       |  SELECT doc_id, qlon, qlat, gid, name, typ, score, glon, glat,
       |         len(string_split(name, ' ')) / 3.0 AS w,
       |         len(string_split(name, ' ')) AS plen,
       |         length(pfx) - length(replace(pfx, ' ', '')) + 1 AS pos
       |  FROM (SELECT d.doc_id, d.qlon, d.qlat, g.gid, g.name, g.typ, g.score,
       |               g.glon, g.glat,
       |               substr(' ' || d.text || ' ', 1,
       |                      strpos(' ' || d.text || ' ', ' ' || g.name || ' ') - 1) AS pfx
       |        FROM docs d JOIN gaz g ON contains(' ' || d.text || ' ', ' ' || g.name || ' ')$sf)),
       |placecand AS (
       |  SELECT *, $cell12 AS cell, $cell8 AS cell8p FROM mention WHERE typ = 'place'),
       |regioncand AS (
       |  SELECT *, $cell8 AS cell FROM mention WHERE typ = 'region'),
       |regioncap AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY w DESC, gid ASC) AS rcap
       |    FROM regioncand) WHERE rcap <= ${Geocode.StackRegionCap}),
       |stacked AS (
       |  SELECT p.*, r.gid AS rid, r.w AS wr, r.name AS rname,
       |         r.pos AS r_pos, r.plen AS r_plen,
       |         row_number() OVER (PARTITION BY p.doc_id, p.gid
       |                            ORDER BY r.w DESC NULLS LAST, r.gid ASC NULLS LAST) AS rn
       |  FROM placecand p
       |  LEFT JOIN regioncap r ON r.doc_id = p.doc_id AND r.cell = p.cell8p),
       |cands AS (
       |  SELECT doc_id, gid AS feature_id, name, typ,
       |         $maskRelevSql - (CASE WHEN rid IS NULL THEN CAST(0 AS DOUBLE) ELSE
       |           (CASE WHEN r_pos > pos + plen THEN CAST(0.01 AS DOUBLE)
       |                 WHEN pos > r_pos + r_plen THEN CAST(0.01 AS DOUBLE)
       |                 ELSE CAST(0 AS DOUBLE) END) +
       |           (CASE WHEN r_pos < pos THEN CAST(0.01 AS DOUBLE)
       |                 ELSE CAST(0 AS DOUBLE) END) END) AS relev,
       |         cell, COALESCE(rid, -1) AS ctx, score, glon, glat, qlon, qlat
       |  FROM stacked WHERE rn = 1
       |  UNION ALL
       |  SELECT doc_id, gid, name, typ, w, cell, -1, score, glon, glat, qlon, qlat
       |  FROM regioncand),
       |scored AS (
       |  SELECT *, score / (1.0 + ${haversineSql("qlon", "qlat", "glon", "glat")} / 40.0) AS sd
       |  FROM cands),
       |${dedupCte}ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY relev DESC, sd DESC, feature_id ASC) AS rank
       |  FROM $preRank)
       |SELECT doc_id, feature_id, typ, relev, cell, ctx, round(sd, 4) AS sd, rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  def fwdGeocodeSql: String = forwardSql(gazCte, None, dedup = false)

  // =================================================================
  // D2 generalized: N-level stack coalesce over the 4-level gazetteer
  // (continent z4 → country z6 → region z8 → place z12). Chains may skip
  // absent levels; relev is the covered-token mask over the whole chain;
  // per-level F1 cap mirrored. Output carries the full chain id path.
  // =================================================================

  private val multiLevels = Geocode.DefaultLevels

  def fwdGeocodeMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Geocode.mentions(docPages(spark, sfDir), gazMultiDf(spark)).persist()
    Geocode.rank(Geocode.coalesceN(m, multiLevels), extraCols = Seq("chain"))
  }

  /** Token-for-token mirror of [[Geocode.coalesceN]] + rank: one (c_i, j_i,
    * ch_i, cap_i, pool_i) CTE block per level, generated from the same level
    * list the Spark side consumes. */
  def fwdGeocodeMultiSql: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $gazMultiCte,\ndocs AS (${docPagesSql}),\n"
    sb ++=
      s"""mention AS (
         |  SELECT doc_id, qlon, qlat, gid, name, typ, score, glon, glat,
         |         len(string_split(name, ' ')) AS plen,
         |         length(pfx) - length(replace(pfx, ' ', '')) + 1 AS pos
         |  FROM (SELECT d.doc_id, d.qlon, d.qlat, g.gid, g.name, g.typ, g.score,
         |               g.glon, g.glat,
         |               substr(' ' || d.text || ' ', 1,
         |                      strpos(' ' || d.text || ' ', ' ' || g.name || ' ') - 1) AS pfx
         |        FROM docs d JOIN gazm g ON contains(' ' || d.text || ' ', ' ' || g.name || ' '))),
         |""".stripMargin
    val poolCols = "doc_id, gid, cell, leaf_zoom, chain_ids, utoks, wc, pen, pos, plen"
    multiLevels.zipWithIndex.foreach { case (lvl, i) =>
      val cell = cellSql(lvl.zoom, "glon", "glat")
      sb ++= s"c$i AS (SELECT *, $cell AS cell FROM mention WHERE typ = '${lvl.typ}'),\n"
      if (i == 0) {
        sb ++=
          s"""ch0 AS (
             |  SELECT doc_id, gid, name, typ, score, glon, glat, qlon, qlat, cell,
             |         pos, plen,
             |         ${lvl.zoom} AS leaf_zoom, [gid] AS chain_ids,
             |         list_distinct(string_split(name, ' ')) AS utoks,
             |         CAST(-1 AS BIGINT) AS ctx,
             |         CAST(0 AS DOUBLE) AS pen
             |  FROM c0),
             |""".stripMargin
      } else {
        val caseCell = multiLevels.take(i)
          .map(pl => s"WHEN ${pl.zoom} THEN ${cellSql(pl.zoom, "c.glon", "c.glat")}")
          .mkString(" ")
        sb ++=
          s"""j$i AS (
             |  SELECT c.*, p.gid AS p_gid, p.chain_ids AS p_chain, p.utoks AS p_utoks,
             |         p.pen AS p_pen, p.pos AS p_pos, p.plen AS p_plen,
             |         row_number() OVER (PARTITION BY c.doc_id, c.gid
             |                            ORDER BY p.wc DESC NULLS LAST,
             |                                     p.leaf_zoom DESC NULLS LAST,
             |                                     p.gid ASC NULLS LAST) AS rn
             |  FROM c$i c LEFT JOIN pool${i - 1} p
             |    ON p.doc_id = c.doc_id
             |   AND p.cell = CASE p.leaf_zoom $caseCell END),
             |ch$i AS (
             |  SELECT doc_id, gid, name, typ, score, glon, glat, qlon, qlat, cell,
             |         pos, plen,
             |         ${lvl.zoom} AS leaf_zoom,
             |         list_append(COALESCE(p_chain, []), gid) AS chain_ids,
             |         list_distinct(list_cat(COALESCE(p_utoks, []),
             |                                string_split(name, ' '))) AS utoks,
             |         COALESCE(p_gid, -1) AS ctx,
             |         COALESCE(p_pen, CAST(0 AS DOUBLE)) +
             |           (CASE WHEN p_gid IS NULL THEN CAST(0 AS DOUBLE) ELSE
             |             (CASE WHEN p_pos > pos + plen THEN CAST(0.01 AS DOUBLE)
             |                   WHEN pos > p_pos + p_plen THEN CAST(0.01 AS DOUBLE)
             |                   ELSE CAST(0 AS DOUBLE) END) +
             |             (CASE WHEN p_pos < pos THEN CAST(0.01 AS DOUBLE)
             |                   ELSE CAST(0 AS DOUBLE) END) END) AS pen
             |  FROM j$i WHERE rn = 1),
             |""".stripMargin
      }
      sb ++= s"chw$i AS (SELECT *, len(utoks) / 3.0 - pen AS wc FROM ch$i),\n"
      sb ++=
        s"""cap$i AS (SELECT * FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |                               ORDER BY wc DESC, gid ASC) AS rcap
           |  FROM chw$i) WHERE rcap <= ${Geocode.StackRegionCap}),
           |""".stripMargin
      if (i == 0) sb ++= s"pool0 AS (SELECT $poolCols FROM cap0),\n"
      else sb ++= s"pool$i AS (SELECT $poolCols FROM pool${i - 1} UNION ALL SELECT $poolCols FROM cap$i),\n"
    }
    val unionAll = multiLevels.indices
      .map(i => s"SELECT doc_id, gid AS feature_id, typ, wc AS relev, cell, ctx, " +
        s"array_to_string(chain_ids, '>') AS chain, score, glon, glat, qlon, qlat FROM chw$i")
      .mkString("\n  UNION ALL\n  ")
    sb ++=
      s"""cands AS (
         |  $unionAll),
         |scored AS (
         |  SELECT *, score / (1.0 + ${haversineSql("qlon", "qlat", "glon", "glat")} / 40.0) AS sd
         |  FROM cands),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY relev DESC, sd DESC, feature_id ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, feature_id, typ, relev, cell, ctx, chain, round(sd, 4) AS sd, rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    sb.toString
  }

  // =================================================================
  // D1/A3/H7: forward geocode over the BUILT fat grid index (phrase_id
  // equi-join against the persisted index table; D4 name-verify in the
  // index row; relev_q/score_q consumed by the grid-stage prune) —
  // row-identical to fwd_geocode, so it shares the oracle.
  // =================================================================

  /** Where a built index table lives: `SPARK_GRAFT_TMP/<name>` when set
    * (cluster launches point it at a shared scratch path), else a per-JVM
    * java.nio temp dir — never a hard-coded sandbox path. */
  private def indexPath(name: String): String =
    sys.env.get("SPARK_GRAFT_TMP").map(t => s"$t/$name")
      .getOrElse(java.nio.file.Files.createTempDirectory(s"graft-$name").resolve(name).toString)

  private val gridPaths = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A grid index as an on-disk parquet table at [[indexPath]]`(name)`,
    * built once per JVM and sorted by phrase_id so the probe join scans a
    * real index table — at the design point this is the
    * Hilbert-range-partitioned table that IndexBuild.build writes per index
    * epoch. */
  private def gridParquet(spark: SparkSession, name: String)(build: => DataFrame): DataFrame =
    TableIO.read(spark, gridPaths.computeIfAbsent(name, _ => {
      val p = indexPath(name)
      build.coalesce(1).sortWithinPartitions("phrase_id", "cell", "feature_id")
        .write.mode("overwrite").parquet(p)
      p
    }))

  /** The FAT gazetteer grid index on disk (payload columns denormalized —
    * [[graft.index.IndexBuild.gazetteerGridFat]]). */
  def gazGridFatParquet(spark: SparkSession): DataFrame =
    gridParquet(spark, "gazgridfat")(
      graft.index.IndexBuild.gazetteerGridFat(gazDf(spark), Geocode.ZPlace, Geocode.ZRegion))

  /** Forward geocode over the fat grid index on its at-scale body: the
    * shuffled phrase_id match join with in-row verify, which never
    * broadcasts (`forwardIndexedFat` past its broadcast ceiling; with a
    * grid ceiling of 0 the grid is never collected, at any scale factor).
    * Row-identical to fwd_geocode, shares its oracle. */
  def fwdGeocodeIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forwardIndexedFatWith(docPages(spark, sfDir), gazGridFatParquet(spark), 5, false,
      Geocode.BroadcastDictCeiling, gridCeiling = 0)

  /** Forward geocode over the FAT grid index: no feature join; under the
    * broadcast ceiling one map-only stage over the grid's dictionary, over
    * it the shuffled body of fwd_geocode_indexed. Row-identical to
    * fwd_geocode, shares its oracle. */
  def fwdGeocodeFat(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forwardIndexedFat(docPages(spark, sfDir), gazGridFatParquet(spark))

  private val GazGridBucketedTable = "graft_gazgrid_fat_bucketed"

  /** The fat grid index as a BUCKETED table (32 buckets on phrase_id): the
    * index side of the match join arrives pre-hash-partitioned from disk, so
    * the join plans ZERO exchange above the index scan — only the doc side
    * shuffles (to the bucket count). At the design point this is the
    * co-location story for the 10s-of-GB index: bucketing is decided once
    * per index epoch at WRITE time, and every query against that epoch
    * saves the index-side shuffle. Registered in the session catalog
    * (bucket metadata lives there); rebuilt lazily per catalog. */
  def gazGridFatBucketed(spark: SparkSession): DataFrame = this.synchronized {
    if (!spark.catalog.tableExists(GazGridBucketedTable))
      graft.index.IndexBuild.gazetteerGridFat(gazDf(spark), Geocode.ZPlace, Geocode.ZRegion)
        .write.mode("overwrite")
        .bucketBy(32, "phrase_id").sortBy("phrase_id")
        .option("path", indexPath("gazgridfatb"))
        .format("parquet")
        .saveAsTable(GazGridBucketedTable)
    spark.table(GazGridBucketedTable)
  }

  /** [[fwdGeocodeFat]] over the bucketed index table — same operator; over
    * the broadcast ceiling the table layout eliminates the index-side
    * exchange (PlanSpec pins it). Row-identical to fwd_geocode, shares its
    * oracle. */
  def fwdGeocodeBucketed(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forwardIndexedFat(docPages(spark, sfDir), gazGridFatBucketed(spark))

  /** The 4-level gazetteer as a FAT grid index (one leaf cell per feature at
    * its type's zoom — [[graft.index.IndexBuild.gazetteerGridFatLevels]]). */
  def gazGridMultiFatParquet(spark: SparkSession): DataFrame =
    gridParquet(spark, "gazgridmfat")(
      graft.index.IndexBuild.gazetteerGridFatLevels(gazMultiDf(spark),
        Geocode.DefaultLevels.map(l => (l.typ, l.zoom))))

  /** N-level stack coalesce over the BUILT fat index (no gazetteer
    * broadcast) — the at-scale form of fwd_geocode_multi. Row-identical to
    * it, shares its oracle. */
  def fwdGeocodeMultiIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forwardIndexedMultiFat(docPages(spark, sfDir), gazGridMultiFatParquet(spark))

  // =================================================================
  // E4: result-level dedupe — gazetteer with duplicate-name clones;
  // same-place candidates (name, cell) collapse before the limit.
  // =================================================================

  def fwdDedup(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forward(docPages(spark, sfDir), dupGazDf(spark), dedupe = true)

  def fwdDedupSql: String = forwardSql(dupGazCte, None, dedup = true)

  // =================================================================
  // C2: stack (country) filter — candidates restricted to a stack set
  // before any matching (carmen's `stacks` option prunes whole indexes).
  // =================================================================

  private val stackSet = Seq("na", "eu")

  def fwdStacks(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forward(docPages(spark, sfDir),
      gazDf(spark).filter(col("stack").isin(stackSet: _*)))

  def fwdStacksSql: String = forwardSql(gazCte, Some(stackSet), dedup = false)

  // =================================================================
  // B6-weighted forward geocode: relev from corpus IDF weights
  // =================================================================

  def fwdGeocodeIdf(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.forwardIdf(docPages(spark, sfDir), gazDf(spark))
      .withColumn("relev", round(col("relev"), 6))

  /** Per-index-epoch freq-cache build for the idf query's corpus (same
    * canonicalized plan as [[fwdGeocodeIdf]]'s internal dictionary) — Bench
    * times this separately as `idf_dict_sec`. */
  def warmIdfDict(spark: SparkSession, sfDir: String): Int =
    Geocode.warmIdfDict(docPages(spark, sfDir))

  def fwdGeocodeIdfSql: String = {
    val cell12 = cellSql(12, "glon", "glat")
    val cell8 = cellSql(8, "glon", "glat")
    s"""WITH $gazCte,
       |docs AS (${docPagesSql}),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |freq AS (SELECT t AS term, count(*) AS df FROM (
       |           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
       |           FROM documents) GROUP BY 1),
       |idf AS (SELECT term,
       |               CAST(round(ln(1.0 + CAST(nn.n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS idf_q
       |        FROM freq CROSS JOIN nn),
       |docidf AS (SELECT d.doc_id, sum(i.idf_q) AS doc_q FROM (
       |             SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       |             FROM documents) d JOIN idf i USING (term) GROUP BY 1),
       |gw AS (SELECT g.gid, sum(i.idf_q) AS w_q
       |       FROM (SELECT gid, unnest(string_split(name, ' ')) AS term FROM gaz) g
       |       JOIN idf i USING (term)
       |       GROUP BY 1),
       |mention AS (
       |  SELECT d.doc_id, d.qlon, d.qlat, g.gid, g.name, g.typ, g.score, g.glon, g.glat,
       |         gw.w_q, di.doc_q
       |  FROM docs d JOIN gaz g ON contains(' ' || d.text || ' ', ' ' || g.name || ' ')
       |  JOIN gw ON gw.gid = g.gid
       |  JOIN docidf di ON di.doc_id = d.doc_id),
       |placecand AS (
       |  SELECT *, $cell12 AS cell, $cell8 AS cell8p FROM mention WHERE typ = 'place'),
       |regioncand AS (
       |  SELECT *, $cell8 AS cell FROM mention WHERE typ = 'region'),
       |regioncap AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY w_q DESC, gid ASC) AS rcap
       |    FROM regioncand) WHERE rcap <= ${Geocode.StackRegionCap}),
       |stacked AS (
       |  SELECT p.*, r.gid AS rid, r.w_q AS wr_q, r.name AS rname,
       |         row_number() OVER (PARTITION BY p.doc_id, p.gid
       |                            ORDER BY r.w_q DESC NULLS LAST, r.gid ASC NULLS LAST) AS rn
       |  FROM placecand p
       |  LEFT JOIN regioncap r ON r.doc_id = p.doc_id AND r.cell = p.cell8p),
       |cands AS (
       |  SELECT doc_id, gid AS feature_id, typ,
       |         list_distinct(list_cat(string_split(name, ' '),
       |           COALESCE(string_split(rname, ' '), []))) AS utoks,
       |         cell, COALESCE(rid, -1) AS ctx, score, glon, glat, qlon, qlat, doc_q
       |  FROM stacked WHERE rn = 1
       |  UNION ALL
       |  SELECT doc_id, gid, typ, string_split(name, ' '), cell, -1, score,
       |         glon, glat, qlon, qlat, doc_q
       |  FROM regioncand),
       |uidf AS (SELECT c.doc_id, c.feature_id, sum(i.idf_q) AS u_q FROM (
       |           SELECT doc_id, feature_id, unnest(utoks) AS term FROM cands) c
       |         JOIN idf i USING (term) GROUP BY 1, 2),
       |withr AS (
       |  SELECT c.*, CAST(u.u_q AS DOUBLE) / CAST(c.doc_q AS DOUBLE) AS relev
       |  FROM cands c JOIN uidf u USING (doc_id, feature_id)),
       |scored AS (
       |  SELECT *, score / (1.0 + ${haversineSql("qlon", "qlat", "glon", "glat")} / 40.0) AS sd
       |  FROM withr),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY relev DESC, sd DESC, feature_id ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, feature_id, typ, round(relev, 6) AS relev, cell, ctx,
       |       round(sd, 4) AS sd, rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  // =================================================================
  // H1: cell assignment + count per cell (E1-style agg)
  // =================================================================

  def cellAssign(spark: SparkSession, sfDir: String): DataFrame =
    eventPoints(spark, sfDir)
      .withColumn("cell", F.cellAt(lit(12), col("elon"), col("elat")))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))

  def cellAssignSql: String =
    s"""WITH pts AS (${eventPointsSql})
       |SELECT ${cellSql(12, "elon", "elat")} AS cell, count(*) AS cnt
       |FROM pts GROUP BY 1""".stripMargin

  // =================================================================
  // H3: parent-cell bit math (zoom alignment) — pure packed-key arithmetic
  // =================================================================

  def parentCells(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = eventPoints(spark, sfDir)
      .withColumn("cell12", F.cellAt(lit(12), col("elon"), col("elat")))
    pts.select(col("event_id"), col("cell12"),
      F.parentCell(col("cell12"), lit(8)).as("cell8"),
      F.parentCell(col("cell12"), lit(6)).as("cell6"))
  }

  def parentCellsSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |c AS (SELECT event_id, ${cellSql(12, "elon", "elat")} AS cell12 FROM pts)
       |SELECT event_id, cell12, ${parentCellSql("cell12", 12, "8")} AS cell8,
       |       ${parentCellSql("cell12", 12, "6")} AS cell6
       |FROM c""".stripMargin

  // =================================================================
  // H3d: Bing quadkey encoding — the interleaved-bit string key of a
  // z14 tile (digit i = 2·y_bit + x_bit at depth i, Schwartz '18 Bing
  // tile scheme). Quadkeys give a PREFIX-ORDERED key space: a length-k
  // prefix IS the z=k ancestor tile, so string prefix filters prune
  // like the cell hierarchy. Pure per-row integer bit arithmetic
  // unpacked from the packed z:5|x:28|y:28 cell — zero shuffles; both
  // engines run exact integer shifts/masks.
  // =================================================================

  def quadkey(spark: SparkSession, sfDir: String): DataFrame =
    eventPoints(spark, sfDir)
      .withColumn("cell", F.cellAt(lit(14), col("elon"), col("elat")))
      .withColumn("tx", cellX(col("cell")))
      .withColumn("ty", cellY(col("cell")))
      .select(col("event_id"), expr(
        "concat_ws('', transform(sequence(1, 14), " +
          "i -> cast((shiftright(ty, 14 - i) & 1) * 2 + (shiftright(tx, 14 - i) & 1) as string)))")
        .as("qk"))

  def quadkeySql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |c AS (SELECT event_id, ${cellSql(14, "elon", "elat")} AS cell FROM pts),
       |b AS (SELECT event_id, ${cellXSql("cell")} AS tx,
       |             ${cellYSql("cell")} AS ty FROM c)
       |SELECT event_id, array_to_string(list_transform(generate_series(1, 14),
       |  i -> CAST(((ty >> (14 - i)) & 1) * 2 + ((tx >> (14 - i)) & 1) AS VARCHAR)), '') AS qk
       |FROM b""".stripMargin

  // =================================================================
  // H3e: geohash encoding — the OTHER public prefix-ordered key scheme
  // (Niemeyer '08): 20-bit quantized lon/lat interleaved LON-FIRST into
  // 40 bits, base32-coded 5 bits per character (8 chars). A length-k
  // prefix is the 5k-bit ancestor box, so string prefix filters prune
  // hierarchically just like quadkeys. Pure per-row arithmetic, zero
  // shuffles. The only doubles are the two pre-quantization scalings,
  // written token-identically on both engines; everything after the
  // floor is exact integer shifts/masks.
  // =================================================================

  private val GhAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def geohash(spark: SparkSession, sfDir: String): DataFrame =
    eventPoints(spark, sfDir)
      .withColumn("lonb", expr(
        "CAST(floor((elon + 180.0) / 360.0 * 1048576.0) AS BIGINT)"))
      .withColumn("latb", expr(
        "CAST(floor((elat + 90.0) / 180.0 * 1048576.0) AS BIGINT)"))
      // interleave as a fold: independent one-bit terms summed — stays a
      // single codegen'd expression, no join/shuffle
      .withColumn("ih", expr(
        "aggregate(sequence(0, 19), CAST(0 AS BIGINT), (a, i) -> a + " +
          "shiftleft(shiftright(lonb, 19 - i) & 1, 39 - 2 * i) + " +
          "shiftleft(shiftright(latb, 19 - i) & 1, 38 - 2 * i))"))
      .select(col("event_id"), expr(
        s"concat_ws('', transform(sequence(0, 7), g -> " +
          s"substring('$GhAlphabet', " +
          "CAST(shiftright(ih, 35 - 5 * g) & 31 AS INT) + 1, 1)))").as("gh"))

  def geohashSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |q AS (SELECT event_id,
       |        CAST(floor((elon + 180.0) / 360.0 * 1048576.0) AS BIGINT) AS lonb,
       |        CAST(floor((elat + 90.0) / 180.0 * 1048576.0) AS BIGINT) AS latb
       |      FROM pts),
       |h AS (SELECT event_id, CAST(list_sum(list_transform(generate_series(0, 19), i ->
       |        (((lonb >> (19 - i)) & 1) << (39 - 2 * i)) +
       |        (((latb >> (19 - i)) & 1) << (38 - 2 * i)))) AS BIGINT) AS ih
       |      FROM q)
       |SELECT event_id, array_to_string(list_transform(generate_series(0, 7), g ->
       |  substr('$GhAlphabet', CAST(((ih >> (35 - 5 * g)) & 31) AS INTEGER) + 1, 1)), '') AS gh
       |FROM h""".stripMargin

  // =================================================================
  // H3c: tile pyramid — multi-zoom event-count rollup (z12 → z4), the
  // aggregation shape tile servers use to serve heatmaps at every zoom.
  // The z12 base is the ONLY pass over the raw events (one corpus-wide
  // exchange with map-side partial counts); every coarser level
  // re-aggregates the previous level's already cell-sized counts — at
  // 10^12 events the pyramid costs one big shuffle plus log-many
  // dim-sized ones, never log-many corpus scans. Associativity of sum
  // makes level-by-level rollup ≡ direct grouping of the base by each
  // parent key, which is what the oracle mirrors.
  // =================================================================

  val PyramidZooms: Seq[Int] = Seq(12, 10, 8, 6, 4)

  def tilePyramid(spark: SparkSession, sfDir: String): DataFrame = {
    // the base level feeds every coarser level AND the output union —
    // persist the cut (multi-consumer stage; at cluster scale this is the
    // written z12 stats table)
    val base = eventPoints(spark, sfDir)
      .withColumn("cell", F.cellAt(lit(12), col("elon"), col("elat")))
      .groupBy("cell").agg(count(lit(1)).as("n_events"))
      .withColumn("z", lit(12))
      .persist()
    var prev = base
    var out: DataFrame = base
    PyramidZooms.drop(1).foreach { zc =>
      // each level feeds the NEXT level and the union: persist it, or level
      // z re-aggregates once per coarser consumer (log² dim-sized exchanges
      // instead of log — the docstring's cost claim would be false)
      prev = prev
        .groupBy(F.parentCell(col("cell"), lit(zc)).as("cell"))
        .agg(sum(col("n_events")).as("n_events"))
        .withColumn("z", lit(zc))
        .persist()
      out = out.unionByName(prev)
    }
    out.select(col("z"), col("cell"), col("n_events"))
  }

  def tilePyramidSql: String = {
    val levels = PyramidZooms.drop(1).map { zp =>
      s"""SELECT CAST($zp AS INTEGER) AS z, pcell AS cell, CAST(sum(n) AS BIGINT) AS n_events
         |FROM (SELECT ${parentCellSql("cell", 12, zp.toString)} AS pcell, n FROM base) GROUP BY pcell""".stripMargin
    }
    s"""WITH pts AS (${eventPointsSql}),
       |base AS (
       |  SELECT ${cellSql(12, "elon", "elat")} AS cell, count(*) AS n
       |  FROM pts GROUP BY 1)
       |SELECT CAST(12 AS INTEGER) AS z, cell, CAST(n AS BIGINT) AS n_events FROM base
       |UNION ALL
       |${levels.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // =================================================================
  // H2: tile cover of polygon features (rect WKB → packed cells)
  // =================================================================

  def tileCoverRect(spark: SparkSession, sfDir: String): DataFrame =
    custFeatures(spark, sfDir)
      .select(col("feature_id"), explode(F.tileCover(col("geom_wkb"), lit(8))).as("cell"))

  def tileCoverRectSql: String =
    s"""WITH cf AS (${custFeaturesSql})
       |SELECT f.feature_id, ${rectCellSql(8)} AS cell
       |FROM ${rectCoverSql(8, "cf f")}""".stripMargin

  // =================================================================
  // D8: polygon×polygon overlap SELF-JOIN (the classic distributed
  // spatial join, PBSM-style): both sides explode their z-cell cover,
  // equi-join on the cell, exact bbox-overlap verify in-row. A pair
  // sharing k cover cells would report k times; instead of a pair-keyed
  // distinct (a full extra exchange of the OUTPUT at corpus scale) the
  // pair reports ONLY in the reference cell — the cell containing the
  // intersection rect's min corner (Dittrich & Seeger's reference-point
  // method). That corner lies strictly inside both rects (open-interval
  // overlap), so its cell is in both covers: exactly-once by
  // construction, zero dedup shuffle. Shuffle budget: ONE cell-keyed
  // exchange per side, nothing after the join. Hot cells (cities,
  // coastlines) take the same salting hook as reverse_pip (ops.Skew);
  // the cover frame is persisted (both join sides read it) and
  // shuffle_hash-hinted — per-feature cover grows with the corpus and
  // must never broadcast. The oracle is the pure θ self-join on the
  // bounds: the tile math never crosses engines, so the compare proves
  // the blocking is loss-free AND the reference-point dedup exact.
  // =================================================================

  /** Customer rects PADDED by 1.5° per side — the raw synth lattice
    * (multiplicative-hash centers) leaves them pairwise disjoint below
    * sf0.1, which would make the overlap oracles vacuous at the gate SF.
    * 1.5 is exact in binary, so the padded bounds stay exact milli-degree
    * lattice values on both engines. */
  private def paddedCustFeatures(spark: SparkSession, sfDir: String): DataFrame =
    custFeatures(spark, sfDir).select(col("feature_id"),
      (col("west") - 1.5).as("west"), (col("south") - 1.5).as("south"),
      (col("east") + 1.5).as("east"), (col("north") + 1.5).as("north"))
      .withColumn("geom_wkb",
        F.rectWkb(col("west"), col("south"), col("east"), col("north")))

  /** Blocking zoom of the driver's overlap, segment and snap joins. */
  final val JoinZ = 6

  def polyOverlap(spark: SparkSession, sfDir: String): DataFrame =
    polyOverlapOf(paddedCustFeatures(spark, sfDir), JoinZ)

  /** The GENERAL-polygon overlap join: same PBSM blocking and
    * reference-point dedup as [[polyOverlapOf]], but over the features'
    * BBOXES (derived in-row from the WKB — for arbitrary shells the
    * bbox∩bbox min corner need not touch either polygon, so the blocking
    * cover must be the bbox cover, not the geometry cover), with the exact
    * shell-overlap kernel (`polys_overlap`: proper edge crossing or vertex
    * containment) as the in-row verify AFTER the open bbox gate. On rect
    * features the bbox gate already decides overlap, so this is
    * row-identical to [[polyOverlapOf]] and shares its oracle — the kernel
    * earns its keep on non-rect shells (JTS-equivalence property test in
    * GeoSpec; triangle blocked≡brute test in GeocoderSpec). */
  /** round(x*1000) as BIGINT — the milli-degree lattice integer the synth
    * bounds are within ulps of (boundary-safe; same trick as ov_area_q). */
  private def qMilli(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 1000, 0).cast("long")

  def polyOverlapGeomOf(features: DataFrame, z: Int): DataFrame = {
    val boxed = features
      .withColumn("bb", F.wkbBbox(col("geom_wkb")))
      .select(col("feature_id"), col("geom_wkb"),
        element_at(col("bb"), 1).as("west"), element_at(col("bb"), 2).as("south"),
        element_at(col("bb"), 3).as("east"), element_at(col("bb"), 4).as("north"))
    // persisted like every multi-consumer frame in this file (both join
    // sides read it); accumulation across a shared Verify session is
    // intentional — same convention as the bm25/tf persists (PlanSpec
    // clearCache()s where live caches would shift its exchange counts)
    val cov = boxed
      .withColumn("cell", explode(F.tileCover(
        F.rectWkb(col("west"), col("south"), col("east"), col("north")), lit(z))))
      .persist()
    def side(p: String) = cov.select(col("cell"), col("feature_id").as(s"${p}_id"),
      col("geom_wkb").as(s"${p}_wkb"),
      col("west").as(s"${p}_w"), col("south").as(s"${p}_s"),
      col("east").as(s"${p}_e"), col("north").as(s"${p}_n"))
    side("a").join(side("b").hint("shuffle_hash"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      // overlap gate on the milli-degree BIGINT lattice, not raw doubles:
      // for exactly-touching padded rects the engines' double vs DECIMAL
      // arithmetic can disagree about strict `<` in the last bits (latent
      // at the gated SFs, 2,789 divergent pairs simulated at sf1); the
      // bounds live on the 0.001 lattice so round(x*1000) is boundary-safe
      // and the gate becomes exact integer arithmetic on both engines.
      .filter(qMilli(col("a_w")) < qMilli(col("b_e")) && qMilli(col("b_w")) < qMilli(col("a_e")) &&
        qMilli(col("a_s")) < qMilli(col("b_n")) && qMilli(col("b_s")) < qMilli(col("a_n")))
      .filter(col("cell") === F.cellAt(lit(z),
        greatest(col("a_w"), col("b_w")), greatest(col("a_s"), col("b_s"))))
      .filter(F.polysOverlap(col("a_wkb"), col("b_wkb")))
      .select(col("a_id"), col("b_id"),
        ((round(least(col("a_e"), col("b_e")) * 1000, 0).cast("long") -
          round(greatest(col("a_w"), col("b_w")) * 1000, 0).cast("long")) *
          (round(least(col("a_n"), col("b_n")) * 1000, 0).cast("long") -
            round(greatest(col("a_s"), col("b_s")) * 1000, 0).cast("long")))
          .as("ov_area_q"))
  }

  /** Driver query: the general kernel over the padded rect features —
    * row-identical to `poly_overlap` (shares its oracle). */
  def polyOverlapGeom(spark: SparkSession, sfDir: String): DataFrame =
    polyOverlapGeomOf(paddedCustFeatures(spark, sfDir)
      .select(col("feature_id"), col("geom_wkb")), JoinZ)

  /** Frame (donut) features: shell rect + rect HOLE inset by the band
    * width. TWO features per customer — a big frame (id 2k: the
    * poly_overlap 1.5° padding, band 0.2°) and a small frame (id 2k+1:
    * 0.45°×0.35° half-extents, band 0.1°) at a deterministic lattice
    * offset from the same center, spanning all regimes: wholly inside the
    * big hole (bbox overlap, interiors DISJOINT — the case hole-blindness
    * gets wrong), shell crossing the hole ring, and band-on-band overlap.
    * Planted pairs keep the fixture O(n); parity TIERS were tried first
    * and are vacuous — even/odd ids land on disjoint cosets of the
    * multiplicative synth lattice and never approach each other. */
  private def frameFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val base = custFeatures(spark, sfDir)
    val big = base.select((col("feature_id") * 2).as("feature_id"),
      (col("west") - 1.5).as("west"), (col("south") - 1.5).as("south"),
      (col("east") + 1.5).as("east"), (col("north") + 1.5).as("north"))
      .withColumn("geom_wkb",
        F.frameWkb(col("west"), col("south"), col("east"), col("north"), 0.2))
    val dx = (col("feature_id") * 13 % 37 - 18) * lit(0.1)
    val dy = (col("feature_id") * 17 % 19 - 9) * lit(0.1)
    val small = base.select((col("feature_id") * 2 + 1).as("feature_id"),
      (col("flon") + dx - 0.45).as("west"), (col("flat") + dy - 0.35).as("south"),
      (col("flon") + dx + 0.45).as("east"), (col("flat") + dy + 0.35).as("north"))
      .withColumn("geom_wkb",
        F.frameWkb(col("west"), col("south"), col("east"), col("north"), 0.1))
    big.unionByName(small)
  }

  /** Hole-aware overlap join: [[polyOverlapGeomOf]] (bbox-cover PBSM
    * blocking + exact even-odd kernel) over the frame features — pairs
    * whose INTERIORS (shell minus hole) overlap, with the bbox-overlap
    * area as the deterministic output value. The oracle decides interior
    * overlap by exact integer inclusion–exclusion on the milli lattice:
    * |R| − |R∩Ha| − |R∩Hb| + |R∩Ha∩Hb| > 0 for R = shellA∩shellB and
    * H the hole rects (open/closed boundary differences are measure-zero
    * for rect unions, so area positivity ⇔ open-interior overlap). */
  def polyOverlapHoles(spark: SparkSession, sfDir: String): DataFrame =
    polyOverlapGeomOf(frameFeatures(spark, sfDir)
      .select(col("feature_id"), col("geom_wkb")), JoinZ)

  def polyOverlapHolesSql: String = {
    // clamped rect-intersection area over quantized BIGINT bounds
    def area(w: String, s: String, e: String, n: String) =
      s"greatest(0, $e - $w) * greatest(0, $n - $s)"
    s"""WITH cf AS MATERIALIZED (${custFeaturesSql}),
       |ff AS MATERIALIZED (
       |  SELECT feature_id * 2 AS feature_id,
       |         west - 1.5 AS west, south - 1.5 AS south,
       |         east + 1.5 AS east, north + 1.5 AS north,
       |         CAST(0.2 AS DOUBLE) AS band
       |  FROM cf
       |  UNION ALL
       |  SELECT feature_id * 2 + 1 AS feature_id,
       |         (flon + (feature_id * 13 % 37 - 18) * CAST(0.1 AS DOUBLE)) - 0.45 AS west,
       |         (flat + (feature_id * 17 % 19 - 9) * CAST(0.1 AS DOUBLE)) - 0.35 AS south,
       |         (flon + (feature_id * 13 % 37 - 18) * CAST(0.1 AS DOUBLE)) + 0.45 AS east,
       |         (flat + (feature_id * 17 % 19 - 9) * CAST(0.1 AS DOUBLE)) + 0.35 AS north,
       |         CAST(0.1 AS DOUBLE) AS band
       |  FROM cf),
       |q AS MATERIALIZED (
       |  SELECT feature_id,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS wq,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS sq,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS eq,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS nq,
       |         CAST(round((west + band) * 1000, 0) AS BIGINT) AS hwq,
       |         CAST(round((south + band) * 1000, 0) AS BIGINT) AS hsq,
       |         CAST(round((east - band) * 1000, 0) AS BIGINT) AS heq,
       |         CAST(round((north - band) * 1000, 0) AS BIGINT) AS hnq
       |  FROM ff),
       |r AS (
       |  SELECT a.feature_id AS a_id, b.feature_id AS b_id,
       |         greatest(a.wq, b.wq) AS rw, greatest(a.sq, b.sq) AS rs,
       |         least(a.eq, b.eq) AS re, least(a.nq, b.nq) AS rn,
       |         a.hwq AS haw, a.hsq AS has, a.heq AS hae, a.hnq AS han,
       |         b.hwq AS hbw, b.hsq AS hbs, b.heq AS hbe, b.hnq AS hbn
       |  FROM q a JOIN q b ON a.feature_id < b.feature_id
       |  WHERE a.wq < b.eq AND b.wq < a.eq AND a.sq < b.nq AND b.sq < a.nq)
       |SELECT a_id, b_id, (re - rw) * (rn - rs) AS ov_area_q
       |FROM r
       |WHERE (re - rw) * (rn - rs)
       |      - ${area("greatest(rw, haw)", "greatest(rs, has)",
                       "least(re, hae)", "least(rn, han)")}
       |      - ${area("greatest(rw, hbw)", "greatest(rs, hbs)",
                       "least(re, hbe)", "least(rn, hbn)")}
       |      + ${area("greatest(rw, haw, hbw)", "greatest(rs, has, hbs)",
                       "least(re, hae, hbe)", "least(rn, han, hbn)")}
       |      > 0""".stripMargin
  }

  /** [[polyOverlap]] over any frame of (feature_id, west, south, east,
    * north, geom_wkb) rect features.
    *
    * `salt > 1` activates the D7 hot-cell treatment (cities/coastlines
    * concentrate features): cells holding ≥ `hotThreshold` cover entries
    * spread over `salt` reducers via [[graft.pipeline.Skew.saltedJoinAny]]
    * — the b-side replicates ×salt for hot cells only, the a-side picks a
    * deterministic salt from its feature id. Exactly-once is preserved: a
    * pair still meets in exactly one (cell, salt) bucket, and the
    * reference-point filter is salt-oblivious (GeocoderSpec asserts
    * row-identity to the unsalted plan on a skew-heavy fixture). */
  def polyOverlapOf(features: DataFrame, z: Int,
                    salt: Int = 1, hotThreshold: Long = 1000000L): DataFrame = {
    val cov = features
      .select(col("feature_id"), col("west"), col("south"), col("east"), col("north"),
        explode(F.tileCover(col("geom_wkb"), lit(z))).as("cell"))
      .persist()
    def side(p: String) = cov.select(col("cell"), col("feature_id").as(s"${p}_id"),
      col("west").as(s"${p}_w"), col("south").as(s"${p}_s"),
      col("east").as(s"${p}_e"), col("north").as(s"${p}_n"))
    val joined =
      if (salt <= 1) side("a").join(side("b").hint("shuffle_hash"), Seq("cell"))
      else {
        val hot = graft.pipeline.Skew.hotKeys(cov, "cell", 16, hotThreshold)
        graft.pipeline.Skew.saltedJoinAny(side("a"),
          side("b").hint("shuffle_hash"), "cell", "a_id",
          hot.map(Long.box).toArray[Any], salt)
      }
    joined
      .filter(col("a_id") < col("b_id"))
      // quantized overlap gate: see [[polyOverlapGeomOf]] — exact integer
      // comparison on the milli-degree lattice on BOTH engines
      .filter(qMilli(col("a_w")) < qMilli(col("b_e")) && qMilli(col("b_w")) < qMilli(col("a_e")) &&
        qMilli(col("a_s")) < qMilli(col("b_n")) && qMilli(col("b_s")) < qMilli(col("a_n")))
      .filter(col("cell") === F.cellAt(lit(z),
        greatest(col("a_w"), col("b_w")), greatest(col("a_s"), col("b_s"))))
      // the intersection area in integer MILLI-degree² — the bounds live on
      // a 0.001° lattice, so round(x·1000) recovers the exact integer on
      // both engines (the value is within ulps of it) and the product is
      // exact BIGINT arithmetic. The raw double product DIVERGES between
      // engines in its final bits: DuckDB parses the 0.3/0.15 half-width
      // literals as exact DECIMALs while Spark's doubles are inexact.
      .select(col("a_id"), col("b_id"),
        ((round(least(col("a_e"), col("b_e")) * 1000, 0).cast("long") -
          round(greatest(col("a_w"), col("b_w")) * 1000, 0).cast("long")) *
          (round(least(col("a_n"), col("b_n")) * 1000, 0).cast("long") -
            round(greatest(col("a_s"), col("b_s")) * 1000, 0).cast("long")))
          .as("ov_area_q"))
  }

  /** Oracle mirror of [[polyOverlap]]: the raw θ self-join on the bounds
    * (open-interval overlap, same least/greatest + milli-degree quantize
    * arithmetic order). */
  def polyOverlapSql: String =
    s"""WITH cf0 AS (${custFeaturesSql}),
       |cf AS MATERIALIZED (
       |  SELECT feature_id, west - 1.5 AS west, south - 1.5 AS south,
       |         east + 1.5 AS east, north + 1.5 AS north
       |  FROM cf0)
       |SELECT a.feature_id AS a_id, b.feature_id AS b_id,
       |       (CAST(round(least(a.east, b.east) * 1000, 0) AS BIGINT) -
       |        CAST(round(greatest(a.west, b.west) * 1000, 0) AS BIGINT)) *
       |       (CAST(round(least(a.north, b.north) * 1000, 0) AS BIGINT) -
       |        CAST(round(greatest(a.south, b.south) * 1000, 0) AS BIGINT)) AS ov_area_q
       |FROM cf a JOIN cf b ON a.feature_id < b.feature_id
       |WHERE CAST(round(a.west * 1000, 0) AS BIGINT) < CAST(round(b.east * 1000, 0) AS BIGINT)
       |  AND CAST(round(b.west * 1000, 0) AS BIGINT) < CAST(round(a.east * 1000, 0) AS BIGINT)
       |  AND CAST(round(a.south * 1000, 0) AS BIGINT) < CAST(round(b.north * 1000, 0) AS BIGINT)
       |  AND CAST(round(b.south * 1000, 0) AS BIGINT) < CAST(round(a.north * 1000, 0) AS BIGINT)""".stripMargin

  // =================================================================
  // Polygon measures: shoelace area + centroid over the WKB exterior
  // ring (carmen derives a per-feature "center" point for scoredist the
  // same way). The Spark kernel (F.polyMoments → Geo.polyMomentsQ) walks
  // the ACTUAL ring vertices generically; the oracle rebuilds the same
  // 5-vertex rect ring from the bounds and runs the identical fold —
  // every moment is exact BIGINT on the milli-degree lattice, and the
  // centroid close is one double division + round(_, 6) on both engines.
  // =================================================================

  /** Driver query: per-feature [2·area, centroid] from the WKB ring. */
  def polyCentroid(spark: SparkSession, sfDir: String): DataFrame =
    graft.synth.Synth.custFeatures(spark, sfDir)
      .select(col("feature_id"), F.polyMoments(col("geom_wkb")).as("m"))
      .select(col("feature_id"),
        element_at(col("m"), 1).as("a2q"),
        round(element_at(col("m"), 2).cast("double") /
          (lit(3.0) * element_at(col("m"), 1).cast("double")), 6).as("cx"),
        round(element_at(col("m"), 3).cast("double") /
          (lit(3.0) * element_at(col("m"), 1).cast("double")), 6).as("cy"))

  /** Oracle mirror of [[polyCentroid]]: the same shoelace fold over the
    * rect ring (w,s)(e,s)(e,n)(w,n)(w,s) rebuilt from the bounds. */
  def polyCentroidSql: String =
    s"""WITH cf AS (${graft.synth.Synth.custFeaturesSql}),
       |cfq AS (
       |  SELECT feature_id,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS wq,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS sq,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS eq,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS nq
       |  FROM cf),
       |verts AS (
       |  SELECT feature_id, i.i,
       |         CASE i.i WHEN 1 THEN wq WHEN 2 THEN eq WHEN 3 THEN eq WHEN 4 THEN wq WHEN 5 THEN wq END AS x,
       |         CASE i.i WHEN 1 THEN sq WHEN 2 THEN sq WHEN 3 THEN nq WHEN 4 THEN nq WHEN 5 THEN sq END AS y
       |  FROM cfq, (SELECT unnest(generate_series(1, 5)) AS i) i),
       |edges AS (
       |  SELECT a.feature_id, a.x * b.y - b.x * a.y AS cr,
       |         a.x + b.x AS sx, a.y + b.y AS sy
       |  FROM verts a JOIN verts b ON b.feature_id = a.feature_id AND b.i = a.i + 1),
       |mom AS (
       |  SELECT feature_id, CAST(sum(cr) AS BIGINT) AS a2q,
       |         CAST(sum(sx * cr) AS BIGINT) AS cx6,
       |         CAST(sum(sy * cr) AS BIGINT) AS cy6
       |  FROM edges GROUP BY feature_id)
       |SELECT feature_id, a2q,
       |       round(CAST(cx6 AS DOUBLE) / (3.0 * CAST(a2q AS DOUBLE)), 6) AS cx,
       |       round(CAST(cy6 AS DOUBLE) / (3.0 * CAST(a2q AS DOUBLE)), 6) AS cy
       |FROM mom""".stripMargin

  // =================================================================
  // D9: line-segment intersection JOIN (the street-intersection /
  // boundary-crossing analogue of the polygon overlap join): PBSM
  // blocking on the z-cell cover of each segment's bbox, CLOSED-interval
  // bbox gate (segments can be axis-parallel → zero-width bboxes; the
  // open gate used for rect overlap would drop them), then EXACT integer
  // orientation predicates on the milli-degree lattice — sign tests only,
  // never sign PRODUCTS (o1·o2 overflows BIGINT at lattice magnitudes).
  // Exactly-once via the reference-point method on the bbox∩bbox min
  // corner (a proper crossing implies the corner lies in both CLOSED
  // bboxes, hence in both covers). Output is the EXACT RATIONAL
  // intersection point as integer numerators over a sign-normalized
  // denominator — no double division to diverge between engines.
  // Contract: only PROPER crossings are emitted (strict sign opposition
  // on both orientation pairs); collinear overlap and endpoint touching
  // are excluded by construction.
  // =================================================================

  /** Two diagonal segments per padded customer rect: seg_id = 2·fid is
    * the (w,s)→(e,n) main diagonal, 2·fid+1 the (w,n)→(e,s)
    * anti-diagonal — same-rect diagonals always properly cross
    * (guaranteed output at every SF) and overlapping padded rects cross
    * each other's diagonals. */
  private def custSegments(spark: SparkSession, sfDir: String): DataFrame =
    paddedCustFeatures(spark, sfDir)
      .select(col("feature_id"), explode(array(
        struct((col("feature_id") * 2).as("seg_id"),
          col("west").as("x1"), col("south").as("y1"),
          col("east").as("x2"), col("north").as("y2")),
        struct((col("feature_id") * 2 + 1).as("seg_id"),
          col("west").as("x1"), col("north").as("y1"),
          col("east").as("x2"), col("south").as("y2")))).as("g"))
      .select(col("g.seg_id").as("seg_id"), col("g.x1").as("x1"),
        col("g.y1").as("y1"), col("g.x2").as("x2"), col("g.y2").as("y2"))

  def segJoin(spark: SparkSession, sfDir: String): DataFrame =
    segJoinOf(custSegments(spark, sfDir), JoinZ)

  /** Segment×segment proper-crossing join over any frame of
    * (seg_id, x1, y1, x2, y2) degree-coordinate segments on the
    * milli-degree lattice. Shuffle budget: ONE cell-keyed exchange per
    * side (the cover frame is persisted — both sides read it), nothing
    * after the join; the per-cell fan-out takes the same salting hook as
    * [[polyOverlapOf]] if a layer concentrates (not needed for the synth
    * layer). */
  def segJoinOf(segs: DataFrame, z: Int): DataFrame = {
    val cov = segs
      .withColumn("w", least(col("x1"), col("x2")))
      .withColumn("s", least(col("y1"), col("y2")))
      .withColumn("e", greatest(col("x1"), col("x2")))
      .withColumn("n", greatest(col("y1"), col("y2")))
      .withColumn("cell", explode(F.tileCover(
        F.rectWkb(col("w"), col("s"), col("e"), col("n")), lit(z))))
      .persist()
    def side(p: String) = cov.select(col("cell"), col("seg_id").as(s"${p}_id"),
      qMilli(col("x1")).as(s"${p}x1"), qMilli(col("y1")).as(s"${p}y1"),
      qMilli(col("x2")).as(s"${p}x2"), qMilli(col("y2")).as(s"${p}y2"),
      col("w").as(s"${p}_w"), col("s").as(s"${p}_s"),
      col("e").as(s"${p}_e"), col("n").as(s"${p}_n"))
    val j = side("a").join(side("b").hint("shuffle_hash"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(qMilli(col("a_w")) <= qMilli(col("b_e")) &&
        qMilli(col("b_w")) <= qMilli(col("a_e")) &&
        qMilli(col("a_s")) <= qMilli(col("b_n")) &&
        qMilli(col("b_s")) <= qMilli(col("a_n")))
      .filter(col("cell") === F.cellAt(lit(z),
        greatest(col("a_w"), col("b_w")), greatest(col("a_s"), col("b_s"))))
    // orient(p,q,r) = (qx−px)(ry−py) − (qy−py)(rx−px), exact BIGINT
    val o1 = (col("ax2") - col("ax1")) * (col("by1") - col("ay1")) -
      (col("ay2") - col("ay1")) * (col("bx1") - col("ax1"))
    val o2 = (col("ax2") - col("ax1")) * (col("by2") - col("ay1")) -
      (col("ay2") - col("ay1")) * (col("bx2") - col("ax1"))
    val o3 = (col("bx2") - col("bx1")) * (col("ay1") - col("by1")) -
      (col("by2") - col("by1")) * (col("ax1") - col("bx1"))
    val o4 = (col("bx2") - col("bx1")) * (col("ay2") - col("by1")) -
      (col("by2") - col("by1")) * (col("ax2") - col("bx1"))
    val den0 = (col("ax1") - col("ax2")) * (col("by1") - col("by2")) -
      (col("ay1") - col("ay2")) * (col("bx1") - col("bx2"))
    val cab = col("ax1") * col("ay2") - col("ay1") * col("ax2")
    val ccd = col("bx1") * col("by2") - col("by1") * col("bx2")
    val pxn0 = cab * (col("bx1") - col("bx2")) - (col("ax1") - col("ax2")) * ccd
    val pyn0 = cab * (col("by1") - col("by2")) - (col("ay1") - col("ay2")) * ccd
    val sg = when(den0 < 0, lit(-1L)).otherwise(lit(1L))
    j.filter(((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
        ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0)))
      .select(col("a_id"), col("b_id"),
        (pxn0 * sg).as("pxn"), (pyn0 * sg).as("pyn"), (den0 * sg).as("den"))
  }

  /** Oracle mirror of [[segJoin]]: the raw θ self-join on segment
    * endpoints with the identical integer orientation/numerator
    * arithmetic — the tile blocking never crosses engines, so the compare
    * proves the cover blocking loss-free AND the reference-point dedup
    * exact (same proof shape as [[polyOverlapSql]]). */
  def segJoinSql: String =
    s"""WITH cf0 AS (${custFeaturesSql}),
       |cf AS MATERIALIZED (
       |  SELECT feature_id, west - 1.5 AS west, south - 1.5 AS south,
       |         east + 1.5 AS east, north + 1.5 AS north
       |  FROM cf0),
       |segs AS MATERIALIZED (
       |  SELECT feature_id * 2 AS seg_id,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS x1,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS y1,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS x2,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS y2
       |  FROM cf
       |  UNION ALL
       |  SELECT feature_id * 2 + 1,
       |         CAST(round(west * 1000, 0) AS BIGINT),
       |         CAST(round(north * 1000, 0) AS BIGINT),
       |         CAST(round(east * 1000, 0) AS BIGINT),
       |         CAST(round(south * 1000, 0) AS BIGINT)
       |  FROM cf),
       |pr AS (
       |  SELECT a.seg_id AS a_id, b.seg_id AS b_id,
       |         a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
       |         b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
       |  FROM segs a JOIN segs b ON a.seg_id < b.seg_id
       |  WHERE least(a.x1, a.x2) <= greatest(b.x1, b.x2)
       |    AND least(b.x1, b.x2) <= greatest(a.x1, a.x2)
       |    AND least(a.y1, a.y2) <= greatest(b.y1, b.y2)
       |    AND least(b.y1, b.y2) <= greatest(a.y1, a.y2)),
       |o AS (
       |  SELECT a_id, b_id, ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
       |    (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1) AS o1,
       |    (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1) AS o2,
       |    (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1) AS o3,
       |    (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1) AS o4,
       |    (ax1 - ax2) * (by1 - by2) - (ay1 - ay2) * (bx1 - bx2) AS den0,
       |    ax1 * ay2 - ay1 * ax2 AS cab,
       |    bx1 * by2 - by1 * bx2 AS ccd
       |  FROM pr)
       |SELECT a_id, b_id,
       |  (cab * (bx1 - bx2) - (ax1 - ax2) * ccd) *
       |    (CASE WHEN den0 < 0 THEN -1 ELSE 1 END) AS pxn,
       |  (cab * (by1 - by2) - (ay1 - ay2) * ccd) *
       |    (CASE WHEN den0 < 0 THEN -1 ELSE 1 END) AS pyn,
       |  den0 * (CASE WHEN den0 < 0 THEN -1 ELSE 1 END) AS den
       |FROM o
       |WHERE ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
       |  AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))""".stripMargin

  // =================================================================
  // Density clustering (grid DBSCAN): the mention-clustering / POI-
  // conflation op. eps is DERIVED from the corpus count (⌊K/√n⌋, ≥ 1)
  // so the expected neighbor degree πK²/A stays constant across SFs —
  // subcritical for continuum percolation, so clusters stay finite (the
  // CC closure's round count stays bounded) at every scale. Blocking:
  // eps-sized integer grid, 9-neighbor-cell DIRECTED join — a pair meets
  // in exactly ONE (probe-cell = home-cell) combination, so there is no
  // dedup exchange; dist² ≤ eps² is exact BIGINT lattice arithmetic.
  // Core points (≥ minPts−1 neighbors) cluster via connected components
  // (TextOps.dupClusters: star contraction + driver union-find under an
  // explicit ceiling, distributed min-label loop beyond); border points
  // attach to the MIN core-neighbor cluster label — classic DBSCAN is
  // scan-order-dependent here, min is the deterministic choice the
  // oracle mirrors. Noise points are dropped.
  // =================================================================

  private val DbscanK = 214000.0
  private val DbscanMinPts = 4

  def dbscan(spark: SparkSession, sfDir: String): DataFrame = {
    // eps derives from the corpus size read from table METADATA
    // (TableIO.rowCount: manifest total_rows / parquet footer block
    // counts) — the r4 shape paid a full count() scan pre-pass for a
    // single scalar, an extra corpus pass at 10^12 rows.
    val n = eventCount(spark, sfDir)
    dbscanOf(dbscanPoints(spark, sfDir), n)
  }

  /** [[dbscan]] with the D7 hot-cell salting on its eps-grid self-join:
    * eps cells holding ≥ [[DbscanSaltedHot]] points (at sf0.001 several
    * hold 4–5) replicate ×4 on the home side. Rows are [[dbscan]]'s, so it
    * shares [[dbscanSql]]. */
  def dbscanSalted(spark: SparkSession, sfDir: String): DataFrame =
    dbscanOf(dbscanPoints(spark, sfDir), eventCount(spark, sfDir),
      salt = 4, hotThreshold = DbscanSaltedHot)

  private[graft] val DbscanSaltedHot = 4L

  /** [[dbscan]] core over any (id, xq, yq) milli-lattice point frame with
    * corpus size `n` supplied by the caller (from table metadata — never a
    * scan). `salt > 1` activates the D7 hot-cell treatment on the eps-grid
    * self-join: eps-cells over real geodata are exactly the hot-cell
    * (city) pattern — the home side replicates ×salt for cells holding
    * ≥ `hotThreshold` points, each probe row picks a deterministic salt
    * from its point id ([[graft.pipeline.Skew.saltedJoin]]); a pair still
    * meets in exactly one (cell, salt) bucket, so the closure sees the
    * identical pair set (GeocoderSpec asserts row-identity on a hot-cell
    * fixture). */
  def dbscanOf(points: DataFrame, n: Long, salt: Int = 1,
               hotThreshold: Long = 1000000L): DataFrame = {
    // eps ≥ 1: past n = 214000² the floor reaches 0, and a zero-width grid
    // has no cells to divide by
    val eps = math.max(1L, math.floor(DbscanK / math.sqrt(n.toDouble)).toLong)
    // pts persisted: probe side, home side, and the core/border joins all
    // read it (same multi-consumer convention as the cover frames above).
    // ck packs (sx, sy) into ONE key column — both grid coords are
    // nonnegative and < 10^6 for any eps ≥ 1, so the pack is
    // collision-free; out-of-range probe neighbors (sx or sy = −1) pack to
    // ids no home cell carries and simply match nothing. A scalar key is
    // what the hot-key histogram and the salting helper work over.
    val pts = points
      .withColumn("sx", expr(s"(xq + 180000) div $eps"))
      .withColumn("sy", expr(s"(yq + 80000) div $eps"))
      .withColumn("ck", col("sx") * 1000000L + col("sy"))
      .persist()
    val probes = pts
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("id").as("a"), col("xq").as("ax"), col("yq").as("ay"),
        ((col("sx") + col("dx")) * 1000000L + col("sy") + col("dy")).as("ck"))
    val home = pts.select(col("id").as("b"), col("xq").as("bx"),
      col("yq").as("by"), col("ck")).hint("shuffle_hash")
    val joined =
      if (salt <= 1) probes.join(home, Seq("ck"))
      else {
        val hot = graft.pipeline.Skew.hotKeys(pts, "ck", 16, hotThreshold)
        graft.pipeline.Skew.saltedJoin(probes, home, "ck", "a", hot, salt)
      }
    val pairs = joined
      .filter(col("a") =!= col("b"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(eps * eps))
      .select(col("a"), col("b"))
      .persist()
    val core = pairs.groupBy(col("a")).count()
      .filter(col("count") >= DbscanMinPts - 1)
      .select(col("a").as("id"))
    val corePairs = pairs
      .join(core.select(col("id").as("a")), "a")
      .join(core.select(col("id").as("b")), "b")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val clusters = graft.ops.TextOps.dupClusters(corePairs)
    val coreLbl = core
      .join(clusters.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("lbl"))
      .persist()
    val borderOut = pairs
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(coreLbl.select(col("id").as("b"), col("lbl")), "b")
      .groupBy(col("a")).agg(min(col("lbl")).as("cluster_id"))
      .select(col("a").as("point_id"), col("cluster_id"),
        lit("border").as("role"))
    coreLbl.select(col("id").as("point_id"), col("lbl").as("cluster_id"),
        lit("core").as("role"))
      .union(borderOut)
  }

  /** Oracle mirror of [[dbscan]]: the same integer grid blocking (cell
    * width = eps ⇒ any within-eps pair differs by ≤1 cell per axis —
    * loss-free by construction, both engines run the identical integer
    * arithmetic), minPts gate, recursive min-label closure over the
    * star-contracted core graph ([[graft.ops.TextOps.dupClustersSql]]
    * shape), and min-label border attachment. */
  def dbscanSql: String =
    s"""WITH RECURSIVE pts AS MATERIALIZED (${dbscanPointsSql}),
       |par AS (SELECT greatest(1, CAST(floor(214000.0 / sqrt(count(*))) AS BIGINT)) AS eps FROM pts),
       |g AS MATERIALIZED (
       |  SELECT id, xq, yq,
       |         (xq + 180000) // eps AS sx, (yq + 80000) // eps AS sy
       |  FROM pts, par),
       |probes AS (
       |  SELECT id AS a, xq AS ax, yq AS ay,
       |         sx + dx.d AS sx, sy + dy.d AS sy
       |  FROM g,
       |       (SELECT unnest([-1, 0, 1]) AS d) dx,
       |       (SELECT unnest([-1, 0, 1]) AS d) dy),
       |pairs AS MATERIALIZED (
       |  SELECT p.a, b.id AS b
       |  FROM probes p JOIN g b ON b.sx = p.sx AND b.sy = p.sy, par
       |  WHERE p.a <> b.id
       |    AND (p.ax - b.xq) * (p.ax - b.xq) +
       |        (p.ay - b.yq) * (p.ay - b.yq) <= eps * eps),
       |core AS MATERIALIZED (
       |  SELECT a AS id FROM pairs GROUP BY a
       |  HAVING count(*) >= ${DbscanMinPts - 1}),
       |cpairs AS MATERIALIZED (
       |  SELECT a, b FROM pairs
       |  WHERE a < b AND a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
       |sym AS MATERIALIZED (SELECT a, b FROM cpairs UNION ALL SELECT b AS a, a AS b FROM cpairs),
       |m1 AS MATERIALIZED (SELECT a AS node, least(a, min(b)) AS lbl1 FROM sym GROUP BY a),
       |e1 AS MATERIALIZED (SELECT DISTINCT ma.lbl1 AS a, mb.lbl1 AS b
       |       FROM sym JOIN m1 ma ON sym.a = ma.node JOIN m1 mb ON sym.b = mb.node
       |       WHERE ma.lbl1 <> mb.lbl1),
       |reach AS (
       |  SELECT a AS node, a AS lbl FROM e1
       |  UNION
       |  SELECT e.b AS node, r.lbl AS lbl FROM reach r JOIN e1 e ON e.a = r.node
       |  WHERE r.lbl < e.b),
       |root AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       |cmap AS (SELECT m1.node, coalesce(root.lbl, m1.lbl1) AS lbl
       |         FROM m1 LEFT JOIN root ON m1.lbl1 = root.node),
       |corelbl AS MATERIALIZED (
       |  SELECT c.id, coalesce(cmap.lbl, c.id) AS lbl
       |  FROM core c LEFT JOIN cmap ON cmap.node = c.id)
       |SELECT id AS point_id, lbl AS cluster_id, 'core' AS role FROM corelbl
       |UNION ALL
       |SELECT p.a AS point_id, min(cl.lbl) AS cluster_id, 'border' AS role
       |FROM pairs p JOIN corelbl cl ON cl.id = p.b
       |WHERE p.a NOT IN (SELECT id FROM core)
       |GROUP BY p.a""".stripMargin

  // =================================================================
  // H3b: cover compaction (the S2/H3 `compact` analogue over the z/x/y
  // grid): replace every fully-covered aligned 2^dz × 2^dz block of cover
  // cells with its single ancestor cell. Closed form — NO fixpoint loop:
  // a base cell's compacted id is its COARSEST complete ancestor, where
  // ancestor a at zoom g is complete iff all 4^(8−g) base cells under a
  // are in the feature's cover (iterated sibling-merge reaches parent a
  // exactly when every leaf below a is present, so the two definitions
  // coincide). At 10^12 scale this is a bounded ≤4× explode plus two
  // keyed aggregations — no driver iteration, no recursion.
  // =================================================================

  private val CompactMinZ = 5 // coarsest ancestor considered (8×8 blocks)

  def cellCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val cov = custFeatures(spark, sfDir)
      .select(col("feature_id"), explode(F.tileCover(col("geom_wkb"), lit(8))).as("cell"))
    // complete ⇔ the ancestor's full leaf block is present: 4^(8-g) cells.
    // The check is a WINDOW count over (feature_id, g, anc) — the former
    // groupBy + join-back pair re-ran the cover-explode lineage for the
    // second consumer; window partitions are bounded by 4^(8-CompactMinZ)
    // rows, so there is no skew concern.
    cov
      .withColumn("g", explode(sequence(lit(CompactMinZ), lit(8))))
      .withColumn("anc", F.parentCell(col("cell"), col("g")))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("feature_id"), col("g"), col("anc"))))
      .filter(col("cnt") === expr("CAST(shiftleft(1, (8 - g) * 2) AS BIGINT)"))
      .groupBy(col("feature_id"), col("cell"))
      .agg(min(col("g")).as("z"))
      .select(col("feature_id"), F.parentCell(col("cell"), col("z")).as("cell"), col("z"))
      .distinct()
  }

  def cellCompactSql: String =
    s"""WITH cf AS (${custFeaturesSql}),
       |cov AS (
       |  SELECT f.feature_id, ${rectCellSql(8)} AS cell
       |  FROM ${rectCoverSql(8, "cf f")}),
       |anc AS (
       |  SELECT feature_id, cell, gs.g, ${parentCellSql("cell", 8, "gs.g")} AS anc
       |  FROM cov, (SELECT unnest(generate_series($CompactMinZ, 8)) AS g) gs),
       |complete AS (
       |  SELECT feature_id, g, anc FROM anc
       |  GROUP BY 1, 2, 3
       |  HAVING count(*) = (1::BIGINT << (2 * (8 - g)))),
       |coarsest AS (
       |  SELECT a.feature_id, a.cell, min(a.g) AS z
       |  FROM anc a JOIN complete c
       |    ON a.feature_id = c.feature_id AND a.g = c.g AND a.anc = c.anc
       |  GROUP BY 1, 2)
       |SELECT DISTINCT feature_id, ${parentCellSql("cell", 8, "z")} AS cell,
       |       CAST(z AS INTEGER) AS z
       |FROM coarsest""".stripMargin

  /** Reverse geocode THROUGH the compacted index (the S2-style lookup): a
    * probe joins the index on each of its ≤4 ancestor cells (zoom
    * CompactMinZ..8) — an equi-join on the cell key, zero shuffles with the
    * dim-sized index broadcast — then PIP-verifies in-row against the
    * feature bounds carried on the index row. The compacted set is
    * provably disjoint per feature (every leaf under a chosen ancestor
    * chooses that same ancestor), so no dedup is needed; the oracle is the
    * DIRECT half-open containment join, which this must equal exactly —
    * the compare doubles as the disjointness + cover-completeness proof. */
  def reverseCompact(spark: SparkSession, sfDir: String): DataFrame =
    reverseCompactOf(spark, sfDir, Synth.eventPoints(spark, sfDir))

  /** [[reverseCompact]] for any probe points (event_id, elon, elat). */
  def reverseCompactOf(spark: SparkSession, sfDir: String, points: DataFrame): DataFrame = {
    val idx = cellCompact(spark, sfDir)
      .join(custFeatures(spark, sfDir)
        .select(col("feature_id"), col("west"), col("south"), col("east"), col("north")),
        "feature_id")
    val pts = points
      .withColumn("cell8", F.cellAt(lit(8), col("elon"), col("elat")))
    pts
      .withColumn("g", explode(sequence(lit(CompactMinZ), lit(8))))
      .withColumn("cell", F.parentCell(col("cell8"), col("g")))
      .join(broadcast(idx), "cell")
      .filter(col("elon") >= col("west") && col("elon") < col("east") &&
        col("elat") >= col("south") && col("elat") < col("north"))
      .select(col("event_id"), col("feature_id"))
  }
  // oracle: shares reversePipSql — the compacted-index lookup must equal
  // the direct containment join row-for-row

  // =================================================================
  // Temporal as-of join: each event picks up the per-cell index EPOCH
  // live at its timestamp (the snapshot-versioned-table lookup, probe
  // side timestamped). Union-trick implementation in ops.AsOf — one
  // shuffle, no probe×versions range-join blowup.
  // =================================================================

  /** Events as-of-join deterministic per-z4-cell epoch versions (4 per
    * cell, weekly + a cell-dependent hour offset so some early events
    * precede their cell's first epoch and exercise the null arm). All
    * comparisons in floored epoch SECONDS — integer-exact on both
    * engines. */
  def asofEpoch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("event_id"), unix_timestamp(col("ts")).as("t"),
        Synth.evLon(col("event_id")).as("elon"), Synth.evLat(col("event_id")).as("elat"))
      .withColumn("cell", F.cellAt(lit(4), col("elon"), col("elat")))
      .select("event_id", "cell", "t")
    val state = ev.select("cell").distinct()
      .withColumn("v", explode(sequence(lit(0), lit(3))))
      .select(col("cell"),
        (lit(1704067200L) + col("v").cast("long") * 604800L + col("cell") % 13L * 3600L).as("t"),
        (col("cell") % 100000L * 10L + col("v")).as("epoch_val"))
    graft.ops.AsOf.asOfJoin(ev, state, "cell", "t", Seq("epoch_val"))
      .select(col("event_id"), col("epoch_val"))
  }

  /** Mirror of [[asofEpoch]] — the classic correlated top-1 form the
    * union trick replaces. */
  def asofEpochSql: String =
    s"""WITH pts AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
       |                    ${Synth.evLonSql} AS elon, ${Synth.evLatSql} AS elat FROM events),
       |ev AS (SELECT event_id, t, ${cellSql(4, "elon", "elat")} AS cell FROM pts),
       |state AS (
       |  SELECT cell, 1704067200 + v * 604800 + (cell % 13) * 3600 AS t,
       |         (cell % 100000) * 10 + v AS epoch_val
       |  FROM (SELECT DISTINCT cell FROM ev),
       |       (SELECT unnest(generate_series(0, 3)) AS v)),
       |j AS (
       |  SELECT ev.event_id, s.epoch_val,
       |         row_number() OVER (PARTITION BY ev.event_id ORDER BY s.t DESC) AS rn
       |  FROM ev LEFT JOIN state s ON s.cell = ev.cell AND s.t <= ev.t)
       |SELECT event_id, epoch_val FROM j WHERE rn = 1""".stripMargin

  /** Point-in-interval join: events × 200 synthetic global outage windows
    * (starts 13000 s apart, lengths 1–5 h, so adjacent windows OVERLAP and
    * the multi-match arm is exercised; late events fall past the last
    * window and drop out — inner semantics). Bin width 6 h: every window
    * covers ≤ 2 bins. Oracle is the raw theta join the binned equi-join
    * must equal exactly. */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("event_id"), unix_timestamp(col("ts")).as("t"))
    val win = spark.range(0, 200).toDF("w")
      .select(col("w"),
        (lit(1704067200L) + col("w") * 13000L).as("s"),
        (lit(1704067200L) + col("w") * 13000L + (col("w") % 5L + 1L) * 3600L).as("e"))
    graft.ops.AsOf.intervalJoin(ev, win, "t", "s", "e", binSec = 21600L)
      .select(col("event_id"), col("w"))
  }

  def intervalJoinSql: String =
    s"""WITH ev AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
       |win AS (SELECT w, 1704067200 + w * 13000 AS s,
       |               1704067200 + w * 13000 + (w % 5 + 1) * 3600 AS e
       |        FROM (SELECT unnest(generate_series(0, 199)) AS w))
       |SELECT ev.event_id, win.w FROM ev JOIN win ON win.s <= ev.t AND ev.t < win.e""".stripMargin

  // =================================================================
  // H9: per-tile raster masks — closed-form oracle. The scanline kernel
  // over RECT features has an exact arithmetic form: per (tile, feature)
  // the lit pixels are a [row range] × [col range] box — rows are the
  // pixel-center latitudes in [south, north) (the rect ring's vertical
  // edges cross a scanline iff s <= lat < n), cols the pixel centers in
  // [west, east] via the same ceil/floor fill arithmetic as the kernel.
  // popcount(tile) = |union of boxes|, computed per scan row as a classic
  // sorted-interval union (running-max window). DuckDB lacks sinh, so the
  // inverse-mercator row latitude is written (exp(y)-exp(-y))/2 — a ≤1-ulp
  // difference vs java.lang.Math.sinh that only matters if a pixel-center
  // latitude lands within an ulp of a rect boundary (verified exact at
  // sf0.001/0.01/0.1).
  // =================================================================

  def rasterMaskSql: String = {
    // pixel-center lat of scan row py in tile row cy at z=8 (mirrors
    // Raster.rowLats token-for-token modulo the sinh expansion)
    val yy = "(pi() * (1.0 - 2.0 * (t.cy + (ps.py + 0.5) / 256.0) / 256.0))"
    val rowLat = s"atan((exp($yy) - exp(-$yy)) / 2.0) * 180.0 / pi()"
    // tile lon bounds; col fill = [ceil((w-W)/(E-W)*256-0.5), floor((e-W)/(E-W)*256-0.5)]
    val tw = "(cx / 256.0 * 360.0 - 180.0)"
    val te = "((cx+1) / 256.0 * 360.0 - 180.0)"
    s"""WITH cf AS (${custFeaturesSql}),
       |cov AS (
       |  SELECT f.*, ${rectCellSql(8)} AS cell, xs.x AS cx, ys.y AS cy
       |  FROM ${rectCoverSql(8, "cf f")}),
       |px AS (
       |  SELECT cell, cy, feature_id, south, north,
       |         GREATEST(0, CAST(ceil((west - $tw) / ($te - $tw) * 256 - 0.5) AS INTEGER)) AS c0,
       |         LEAST(255, CAST(floor((east - $tw) / ($te - $tw) * 256 - 0.5) AS INTEGER)) AS c1
       |  FROM cov),
       |rows_ AS (
       |  SELECT p.cell, p.py, i.c0, i.c1
       |  FROM (SELECT t.cell, t.cy, ps.py, $rowLat AS lat
       |        FROM (SELECT DISTINCT cell, cy FROM px) t,
       |             (SELECT unnest(generate_series(0, 255)) AS py) ps) p
       |  JOIN px i ON i.cell = p.cell AND i.c0 <= i.c1
       |           AND p.lat >= i.south AND p.lat < i.north),
       |merged AS (
       |  SELECT cell, py, GREATEST(0, c1 - GREATEST(c0, COALESCE(mp, -1) + 1) + 1) AS contrib
       |  FROM (SELECT cell, py, c0, c1,
       |               max(c1) OVER (PARTITION BY cell, py ORDER BY c0, c1
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
       |        FROM rows_)),
       |nf AS (SELECT cell, count(*) AS n_features FROM cov GROUP BY 1),
       |pop AS (SELECT cell, CAST(sum(contrib) AS BIGINT) AS pop FROM merged GROUP BY 1)
       |SELECT n.cell, n.n_features, COALESCE(p.pop, 0) AS pop
       |FROM nf n LEFT JOIN pop p USING (cell)""".stripMargin
  }

  // =================================================================
  // H9b: zonal statistics — per-polygon aggregation of a raster value
  // field (the zonal-stats primitive of raster analytics: mean
  // elevation per district, population per catchment). The value field
  // is a deterministic integer function of the z10 cell id (a synthetic
  // "elevation band"), so sums stay exact BIGINT. Plan: cover-explode
  // each feature (area-proportional, the raster-join shape), keep cells
  // whose CENTER lies in the rect (half-open, the PIP convention), one
  // feature-keyed map-combined aggregation. The center latitude needs
  // the inverse mercator — written as the exp-form sinh expansion
  // TOKEN-IDENTICALLY on both engines (the raster_mask discipline).
  // =================================================================

  def zonalStats(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 10
    val n = (1L << z).toDouble
    val cov = custFeatures(spark, sfDir)
      .withColumn("cell", explode(F.tileCover(col("geom_wkb"), lit(z))))
      .withColumn("cx", cellX(col("cell")))
      .withColumn("cy", cellY(col("cell")))
    val clon = (col("cx").cast("double") + lit(0.5)) / lit(n) * lit(360.0) - lit(180.0)
    val yy = lit(Math.PI) * (lit(1.0) - lit(2.0) * (col("cy").cast("double") + lit(0.5)) / lit(n))
    val clat = atan((exp(yy) - exp(-yy)) / lit(2.0)) * lit(180.0) / lit(Math.PI)
    cov
      .withColumn("clon", clon).withColumn("clat", clat)
      .filter(col("clon") >= col("west") && col("clon") < col("east") &&
        col("clat") >= col("south") && col("clat") < col("north"))
      .withColumn("v", col("cell") % lit(1000L))
      .groupBy(col("feature_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("v")).as("sum_val"),
        max(col("v")).as("max_val"))
  }

  def zonalStatsSql: String = {
    val yy = "(pi() * (1.0 - 2.0 * (CAST(ys.y AS DOUBLE) + 0.5) / 1024.0))"
    s"""WITH cf AS (${custFeaturesSql}),
       |cov AS (
       |  SELECT f.feature_id, f.west, f.east, f.south, f.north,
       |         ${rectCellSql(10)} AS cell,
       |         (CAST(xs.x AS DOUBLE) + 0.5) / 1024.0 * 360.0 - 180.0 AS clon,
       |         atan((exp($yy) - exp(-$yy)) / 2.0) * 180.0 / pi() AS clat
       |  FROM ${rectCoverSql(10, "cf f")})
       |SELECT feature_id, CAST(count(*) AS BIGINT) AS n_cells,
       |       CAST(sum(cell % 1000) AS BIGINT) AS sum_val,
       |       max(cell % 1000) AS max_val
       |FROM cov
       |WHERE clon >= west AND clon < east AND clat >= south AND clat < north
       |GROUP BY 1""".stripMargin
  }

  // =================================================================
  // D5+C4: reverse geocode join (cell equi-join + ray-cast PIP)
  // =================================================================

  def reversePip(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.reversePip(eventPoints(spark, sfDir), custFeatures(spark, sfDir), 8)
      .select(col("event_id"), col("feature_id"))

  def reversePipSql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql})
       |SELECT p.event_id, f.feature_id
       |FROM pts p JOIN cf f
       |  ON p.elon >= f.west AND p.elon < f.east
       | AND p.elat >= f.south AND p.elat < f.north""".stripMargin

  // =================================================================
  // C4b: PIP anti-join — probe points covered by NO feature (the
  // outside-coverage / ocean-mask set). The matched set reuses the
  // cell-blocked reversePip candidate machinery; the final left_anti
  // shuffles ONLY 8-byte event ids, never geometry or text, and the
  // cover side stays feature-sized — the anti-join adds one skinny
  // exchange to the PIP plan regardless of probe count.
  // =================================================================

  def pipAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = eventPoints(spark, sfDir)
    val matched = Geocode.reversePip(pts, custFeatures(spark, sfDir), 8)
      .select(col("event_id"))
    pts.join(matched, Seq("event_id"), "left_anti").select(col("event_id"))
  }

  def pipAntiSql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql})
       |SELECT p.event_id FROM pts p
       |WHERE NOT EXISTS (SELECT 1 FROM cf f
       |  WHERE p.elon >= f.west AND p.elon < f.east
       |    AND p.elat >= f.south AND p.elat < f.north)""".stripMargin

  // =================================================================
  // D10: spatial skyline (Pareto front) — Börzsönyi et al. '01 skyline
  // in the spatial form of Sharifzadeh & Shahabi (VLDB'06): points
  // minimal in (distance-to-site-A, distance-to-site-B) for two fixed
  // query sites. A raw (lon,lat) skyline over the full synth lattice
  // collapses to the single SW corner; anti-correlated distance
  // criteria produce a genuine staircase, so the decomposition is
  // actually exercised. Distances are EXACT BIGINT squared Euclidean
  // on the milli-degree lattice (round(x*1000) is ulp-safe — the
  // poly_overlap quantization discipline), so no cross-engine float
  // risk. Distributed shape: quantize+distance per-row, dedup (d1,d2)
  // pairs (one exchange), then dominance decomposes by d1-BUCKET — a
  // pair is dominated iff a lex-earlier pair IN ITS BUCKET has d2 ≤
  // its d2 (per-bucket window) or ANY strictly-lower bucket reaches
  // d2 ≤ its d2 (a ~240-row prefix-min dim, broadcast back; bucket
  // monotone in d1 makes cross-bucket dominance strict). No global
  // sort, no quadratic pair join; the only unpartitioned window runs
  // on the bucket dim. Front pairs then semi-join back to the events
  // (shuffle_hash — the front is data-derived, never broadcast). The
  // oracle is a DIFFERENT exact algorithm (single-sweep running
  // strict min over the lex order), so the compare proves the
  // decomposition, not just engine agreement.
  // =================================================================

  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = round(col("elon") * lit(1000)).cast("long")
    val ey = round(col("elat") * lit(1000)).cast("long")
    val pts = eventPoints(spark, sfDir)
      .withColumn("d1", (ex + lit(170000L)) * (ex + lit(170000L)) +
        (ey + lit(75000L)) * (ey + lit(75000L)))
      .withColumn("d2", (ex - lit(170000L)) * (ex - lit(170000L)) +
        (ey - lit(75000L)) * (ey - lit(75000L)))
    val d = pts.select(col("d1"), col("d2")).distinct()
      .withColumn("bx", floor(col("d1") / lit(1000000000L)).cast("long"))
    val wSame = Window.partitionBy(col("bx")).orderBy(col("d1").asc, col("d2").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = d.withColumn("msame", min(col("d2")).over(wSame))
    val bmin = d.groupBy(col("bx")).agg(min(col("d2")).as("bmind"))
    val wPrev = Window.orderBy(col("bx").asc).rowsBetween(Window.unboundedPreceding, -1)
    val pmin = bmin.withColumn("pmind", min(col("bmind")).over(wPrev))
      .select(col("bx"), col("pmind"))
    val front = marked.join(broadcast(pmin), Seq("bx"))
      .filter((col("msame").isNull || col("msame") > col("d2")) &&
        (col("pmind").isNull || col("pmind") > col("d2")))
      .select(col("d1"), col("d2"))
    pts.join(front.hint("shuffle_hash"), Seq("d1", "d2"), "left_semi")
      .select(col("event_id"), col("elon"), col("elat"), col("d1"), col("d2"))
  }

  def skylineSql: String = {
    val ex = "CAST(round(elon * 1000) AS BIGINT)"
    val ey = "CAST(round(elat * 1000) AS BIGINT)"
    s"""WITH pts AS (${eventPointsSql}),
       |q AS (SELECT event_id, elon, elat,
       |        ($ex + 170000) * ($ex + 170000) + ($ey + 75000) * ($ey + 75000) AS d1,
       |        ($ex - 170000) * ($ex - 170000) + ($ey - 75000) * ($ey - 75000) AS d2
       |      FROM pts),
       |d AS (SELECT DISTINCT d1, d2 FROM q),
       |s AS (SELECT d1, d2,
       |        min(d2) OVER (ORDER BY d1, d2
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
       |      FROM d),
       |f AS (SELECT d1, d2 FROM s WHERE m IS NULL OR d2 < m)
       |SELECT q.event_id, q.elon, q.elat, q.d1, q.d2
       |FROM q JOIN f USING (d1, d2)""".stripMargin
  }

  // =================================================================
  // D6: kNN nearest feature within Chebyshev disk r=2 at z8
  // =================================================================

  def knnDisk(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = custFeatures(spark, sfDir)
      .select(col("feature_id"), col("flon"), col("flat"))
    Geocode.knnDisk(eventPoints(spark, sfDir), feats, 8, 2)
  }

  def knnDiskSql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql}),
       |pc AS (SELECT event_id, elon, elat,
       |              ${tileXSql(8, "elon")} AS ex, ${tileYSql(8, "elat")} AS ey FROM pts),
       |fc AS (SELECT feature_id, flon, flat,
       |              ${tileXSql(8, "flon")} AS fx, ${tileYSql(8, "flat")} AS fy FROM cf),
       |cand AS (
       |  SELECT p.event_id, f.feature_id,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist
       |  FROM pc p, LATERAL (SELECT unnest(generate_series(-2, 2)) AS dx) dxs,
       |       LATERAL (SELECT unnest(generate_series(-2, 2)) AS dy) dys
       |  JOIN fc f ON f.fx = p.ex + dxs.dx AND f.fy = p.ey + dys.dy),
       |ranked AS (
       |  SELECT event_id, feature_id, dist,
       |         row_number() OVER (PARTITION BY event_id ORDER BY dist ASC, feature_id ASC) AS rn
       |  FROM cand)
       |SELECT event_id, feature_id, round(dist, 3) AS dist_km FROM ranked WHERE rn = 1""".stripMargin

  // =================================================================
  // D5/D6 composed: reverse with limit>1 (carmen single-type multi-result
  // reverse) — containing features rank before nearby ones, then by center
  // distance; k best per point among PIP hits ∪ the Chebyshev-disk
  // neighborhood. Fully SQL-expressible.
  // =================================================================

  def reverseTopK(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.reverseTopK(eventPoints(spark, sfDir), custFeatures(spark, sfDir),
      z = 8, r = 2, limit = 3)

  def reverseTopKSql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql}),
       |pip AS (
       |  SELECT p.event_id, f.feature_id,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist,
       |         1 AS is_inside
       |  FROM pts p JOIN cf f
       |    ON p.elon >= f.west AND p.elon < f.east
       |   AND p.elat >= f.south AND p.elat < f.north),
       |pc AS (SELECT event_id, elon, elat,
       |              ${tileXSql(8, "elon")} AS ex, ${tileYSql(8, "elat")} AS ey FROM pts),
       |fc AS (SELECT feature_id, flon, flat,
       |              ${tileXSql(8, "flon")} AS fx, ${tileYSql(8, "flat")} AS fy FROM cf),
       |diskc AS (
       |  SELECT p.event_id, f.feature_id,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist,
       |         row_number() OVER (PARTITION BY p.event_id
       |                            ORDER BY ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} ASC,
       |                                     f.feature_id ASC) AS rn
       |  FROM pc p, LATERAL (SELECT unnest(generate_series(-2, 2)) AS dx) dxs,
       |       LATERAL (SELECT unnest(generate_series(-2, 2)) AS dy) dys
       |  JOIN fc f ON f.fx = p.ex + dxs.dx AND f.fy = p.ey + dys.dy),
       |near AS (SELECT event_id, feature_id, dist, 0 AS is_inside
       |         FROM diskc WHERE rn <= 3),
       |u AS (SELECT event_id, feature_id, max(is_inside) AS is_inside,
       |             min(dist) AS dist
       |      FROM (SELECT * FROM pip UNION ALL SELECT * FROM near)
       |      GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_id
       |                               ORDER BY is_inside DESC, dist ASC, feature_id ASC) AS rank
       |  FROM u)
       |SELECT event_id, feature_id, round(dist, 3) AS dist_km,
       |       CAST(is_inside AS INTEGER) AS is_inside, rank
       |FROM ranked WHERE rank <= 3""".stripMargin

  // =================================================================
  // k-NN majority-vote classification (the ML-flavored spatial op):
  // each probe point takes the modal class (feature_id mod 5 — the
  // synthetic label) of its reverse-top-3 neighbors, ties to the
  // smallest class. Rides the EXACT reverseTopK machinery (containment
  // first, unrounded haversine ranking key, id tiebreak); the vote is
  // pure integer counting with a deterministic argmax window that
  // reuses the event-keyed exchange. Oracle = the reverse_topk mirror
  // rebased token-for-token + the vote CTEs (repo composition rule).
  // =================================================================

  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_id")).orderBy(col("votes").desc, col("cls").asc)
    Geocode.reverseTopK(eventPoints(spark, sfDir), custFeatures(spark, sfDir),
        z = 8, r = 2, limit = 3)
      .select(col("event_id"), (col("feature_id") % 5).as("cls"))
      .groupBy(col("event_id"), col("cls")).agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("cls"), col("votes"))
  }

  def knnClassifySql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql}),
       |pip AS (
       |  SELECT p.event_id, f.feature_id,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist,
       |         1 AS is_inside
       |  FROM pts p JOIN cf f
       |    ON p.elon >= f.west AND p.elon < f.east
       |   AND p.elat >= f.south AND p.elat < f.north),
       |pc AS (SELECT event_id, elon, elat,
       |              ${tileXSql(8, "elon")} AS ex, ${tileYSql(8, "elat")} AS ey FROM pts),
       |fc AS (SELECT feature_id, flon, flat,
       |              ${tileXSql(8, "flon")} AS fx, ${tileYSql(8, "flat")} AS fy FROM cf),
       |diskc AS (
       |  SELECT p.event_id, f.feature_id,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist,
       |         row_number() OVER (PARTITION BY p.event_id
       |                            ORDER BY ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} ASC,
       |                                     f.feature_id ASC) AS rn
       |  FROM pc p, LATERAL (SELECT unnest(generate_series(-2, 2)) AS dx) dxs,
       |       LATERAL (SELECT unnest(generate_series(-2, 2)) AS dy) dys
       |  JOIN fc f ON f.fx = p.ex + dxs.dx AND f.fy = p.ey + dys.dy),
       |near AS (SELECT event_id, feature_id, dist, 0 AS is_inside
       |         FROM diskc WHERE rn <= 3),
       |u AS (SELECT event_id, feature_id, max(is_inside) AS is_inside,
       |             min(dist) AS dist
       |      FROM (SELECT * FROM pip UNION ALL SELECT * FROM near)
       |      GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_id
       |                               ORDER BY is_inside DESC, dist ASC, feature_id ASC) AS rank
       |  FROM u),
       |v AS (SELECT event_id, feature_id % 5 AS cls, CAST(count(*) AS BIGINT) AS votes
       |      FROM ranked WHERE rank <= 3 GROUP BY 1, 2),
       |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_id
       |                                    ORDER BY votes DESC, cls ASC) AS rn
       |       FROM v)
       |SELECT event_id, cls, votes FROM r2 WHERE rn = 1""".stripMargin

  // =================================================================
  // Cohort retention (the canonical product-analytics matrix, the
  // funnel's companion): users cohort by FIRST-SEEN epoch week; each
  // (cohort, active-week) pair counts the cohort's users active that
  // week. All integer: distinct (user, week) first — the skinny frame
  // everything else rides — then the cohort via a user-partition MIN
  // window that REUSES the distinct's exchange, then one map-combined
  // (cohort, week) aggregation. Week 0 = epoch week (UTC), documented.
  // =================================================================

  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val base = events(spark, sfDir).select(col("user_id"), col("us"))
    val st = base.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    base.crossJoin(broadcast(st))
      // staggered onboarding (user_id % 4 quarters of the span) — fixture
      // shaping: the raw synth stream starts every user in week 0, which
      // would collapse the cohort dimension to one value
      .filter(expr("us >= mn + (user_id % 4) * ((mx - mn + 1) div 4)"))
      .select(col("user_id"), expr("us div 604800000000").as("week"))
      .distinct()
      .withColumn("cohort", min(col("week")).over(w))
      .groupBy(col("cohort"), col("week"))
      .agg(count(lit(1)).as("users"))
  }

  def cohortRetentionSql: String =
    s"""WITH ev AS (SELECT user_id, $evUsSql AS us FROM events),
       |st AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
       |uw AS (
       |  SELECT DISTINCT user_id, us // 604800000000 AS week
       |  FROM ev CROSS JOIN st
       |  WHERE us >= mn + (user_id % 4) * ((mx - mn + 1) // 4)),
       |c AS (SELECT user_id, week,
       |        min(week) OVER (PARTITION BY user_id) AS cohort
       |      FROM uw)
       |SELECT cohort, week, CAST(count(*) AS BIGINT) AS users
       |FROM c GROUP BY 1, 2""".stripMargin

  // =================================================================
  // Home-location inference (the canonical mobility enrichment): each
  // user's modal z6 cell among NIGHT-TIME fixes (UTC hour ∈ [0,6) —
  // exact integer hour arithmetic; a fixed documented convention, no
  // timezone lookup on the synthetic globe), ties to the smallest
  // cell. One (user,cell) aggregation + a user-keyed argmax window
  // that reuses its exchange; users with no night fixes emit nothing
  // (the honest contract — a fabricated fallback would poison
  // downstream joins).
  // =================================================================

  def homeCell(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("cell").asc)
    events(spark, sfDir)
      .select(col("user_id"),
        expr("(us div 3600000000) % 24").as("hour"),
        F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))).as("cell"))
      .filter(col("hour") >= 0 && col("hour") < 6)
      .groupBy(col("user_id"), col("cell")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("cell").as("home_cell"), col("n").as("night_fixes"))
  }

  def homeCellSql: String =
    s"""WITH ev AS (SELECT user_id,
       |              ($evUsSql // 3600000000) % 24 AS hour,
       |              ${cellSql(6, s"($evLonSql)", s"($evLatSql)")} AS cell
       |            FROM events),
       |nc AS (SELECT user_id, cell, CAST(count(*) AS BIGINT) AS n
       |       FROM ev WHERE hour >= 0 AND hour < 6 GROUP BY 1, 2),
       |rk AS (SELECT user_id, cell, n,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY n DESC, cell ASC) AS rn
       |       FROM nc)
       |SELECT user_id, cell AS home_cell, n AS night_fixes
       |FROM rk WHERE rn = 1""".stripMargin

  // =================================================================
  // Host vocabulary similarity (the mirror-site / template-family
  // detector at host granularity): per-host distinct-token sets
  // compared pairwise by exact Jaccard. Host count is BOUNDED (a dim)
  // so the honest shape is the full pairwise join over the aggregated
  // dim — the verify kernel is the same sorted-int64 merge-intersect
  // (`sorted_inter_count`, 4.6× over string arrays) the doc-level
  // dedup family uses; for UNBOUNDED set families the engine's
  // minhash-LSH path is the scale answer. Ranking key = the unrounded
  // inter/uni rational with the (a,b) tiebreak; top-20.
  // =================================================================

  def hostSim(spark: SparkSession, sfDir: String): DataFrame = {
    val t = TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(expr("concat('h', CAST(doc_id % 97 AS STRING), '.example.org')").as("host"),
        explode(expr("array_distinct(split(text, ' '))")).as("tok"))
      .distinct()
      .groupBy("host")
      .agg(sort_array(collect_list(xxhash64(col("tok")))).as("h"),
        count(lit(1)).as("nt"))
      .persist() // both sides of the pair join
    val w = Window.orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
    t.select(col("host").as("a"), col("h").as("ha"), col("nt").as("na"))
      .join(broadcast(t.select(col("host").as("b"), col("h").as("hb"), col("nt").as("nb"))),
        col("a") < col("b"))
      .withColumn("inter", F.sortedInterCount(col("ha"), col("hb")).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 20)
      .select(col("a"), col("b"), col("inter"), col("uni"),
        round(col("jaccard"), 6).as("jac_r"), col("rnk"))
  }

  def hostSimSql: String =
    s"""WITH p AS (
       |  SELECT DISTINCT 'h' || (doc_id % 97) || '.example.org' AS host,
       |         unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |t AS MATERIALIZED (
       |  SELECT host, CAST(count(*) AS BIGINT) AS nt, list(tok) AS toks
       |  FROM p GROUP BY 1),
       |pr AS (
       |  SELECT a.host AS a, b.host AS b,
       |         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
       |         a.nt + b.nt - len(list_intersect(a.toks, b.toks)) AS uni
       |  FROM t a JOIN t b ON a.host < b.host),
       |rk AS (
       |  SELECT a, b, inter, CAST(uni AS BIGINT) AS uni,
       |         round(CAST(inter AS DOUBLE) / uni, 6) AS jac_r,
       |         CAST(row_number() OVER (ORDER BY CAST(inter AS DOUBLE) / uni DESC,
       |                                 a ASC, b ASC) AS BIGINT) AS rnk
       |  FROM pr)
       |SELECT a, b, inter, uni, jac_r, rnk FROM rk WHERE rnk <= 20""".stripMargin

  // =================================================================
  // Join-count statistics for categorical point data (the classic
  // categorical-autocorrelation measure): for every event-type pair
  // (a ≤ b), the number of same-z6-cell point pairs — Σ_c n_a·n_b for
  // a<b and Σ_c n(n−1)/2 within a type. ALL integer: one (cell,type)
  // aggregation, a cell-keyed self-join of the ≤5-rows-per-cell type
  // counts (bounded 25 fanout), one map-combined 15-key pair sum.
  // Type totals ride along so the analyst can form expectations.
  // =================================================================

  def joinCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = events(spark, sfDir)
      .select(col("event_type"),
        F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))).as("cell"))
      .groupBy(col("cell"), col("event_type")).agg(count(lit(1)).as("n"))
      .persist() // both sides of the pair join + the totals
    val tots = tc.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    val a = tc.select(col("cell"), col("event_type").as("ta"), col("n").as("na"))
    val b = tc.select(col("cell"), col("event_type").as("tb"), col("n").as("nb"))
    a.join(b.hint("shuffle_hash"), Seq("cell"))
      .filter(col("ta") <= col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(sum(expr("IF(ta = tb, (na * (na - 1)) div 2, na * nb)")).as("jc"))
      .join(broadcast(tots.withColumnRenamed("event_type", "ta")
        .withColumnRenamed("nt", "nta")), "ta")
      .join(broadcast(tots.withColumnRenamed("event_type", "tb")
        .withColumnRenamed("nt", "ntb")), "tb")
      .select(col("ta"), col("tb"), col("jc"), col("nta"), col("ntb"))
  }

  def joinCountsSql: String =
    s"""WITH pts AS (SELECT event_type, ${cellSql(6, "elon", "elat")} AS cell
       |             FROM (SELECT event_id, event_type, $evLonSql AS elon,
       |                          $evLatSql AS elat FROM events)),
       |tc AS MATERIALIZED (
       |  SELECT cell, event_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pts GROUP BY 1, 2),
       |tots AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM tc GROUP BY 1),
       |jc AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb,
       |         CAST(sum(CASE WHEN a.event_type = b.event_type
       |                       THEN (a.n * (a.n - 1)) // 2
       |                       ELSE a.n * b.n END) AS BIGINT) AS jc
       |  FROM tc a JOIN tc b ON a.cell = b.cell AND a.event_type <= b.event_type
       |  GROUP BY 1, 2)
       |SELECT jc.ta, jc.tb, jc.jc, x.nt AS nta, y.nt AS ntb
       |FROM jc JOIN tots x ON jc.ta = x.event_type
       |        JOIN tots y ON jc.tb = y.event_type""".stripMargin

  // =================================================================
  // Spatial Gini coefficient (inequality of the event distribution
  // over occupied z6 cells): after the per-cell aggregation the frame
  // is dim-sized, so the global ascending-rank window is a ≤4096-row
  // sort, not a corpus sort. The numerator 2·Σi·xᵢ − (n+1)·Σx is EXACT
  // BIGINT; only the reporting ratio divides (token-identical, rounded).
  // =================================================================

  def cellGini(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("cnt").asc, col("cell").asc)
    eventPoints(spark, sfDir)
      .select(F.cellAt(lit(6), col("elon"), col("elat")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("total"),
        sum(col("i") * col("cnt")).as("sic"))
      .select(col("n_cells"), col("total"),
        (lit(2L) * col("sic") - (col("n_cells") + 1) * col("total")).as("gini_num"))
      .withColumn("gini_r", expr(
        "round(CAST(gini_num AS DOUBLE) / (CAST(n_cells AS DOUBLE) * total), 6)"))
  }

  def cellGiniSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |c AS (SELECT ${cellSql(6, "elon", "elat")} AS cell, CAST(count(*) AS BIGINT) AS cnt
       |      FROM pts GROUP BY 1),
       |r AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt ASC, cell ASC) AS BIGINT) AS i
       |      FROM c),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(cnt) AS BIGINT) AS total,
       |             CAST(sum(i * cnt) AS BIGINT) AS sic
       |      FROM r)
       |SELECT n_cells, total,
       |       2 * sic - (n_cells + 1) * total AS gini_num,
       |       round(CAST(2 * sic - (n_cells + 1) * total AS DOUBLE)
       |             / (CAST(n_cells AS DOUBLE) * total), 6) AS gini_r
       |FROM s""".stripMargin

  // =================================================================
  // D6+G4: expanding-ring kNN oracle. The loop's semantics have a closed
  // form: with nested radii (1,2,4,8) a point is answered in the FIRST
  // round whose Chebyshev disk contains any feature — i.e. radius* =
  // smallest radius >= min Chebyshev cell distance over candidates within
  // the max disk — and the answer is the haversine-nearest feature with
  // cd <= radius*. SQL-expressible, so the driver gets a full oracle.
  // =================================================================

  def knnExpandSql: String =
    s"""WITH cf AS (${custFeaturesSql}), pts AS (${eventPointsSql}),
       |pc AS (SELECT event_id, elon, elat,
       |              ${tileXSql(8, "elon")} AS ex, ${tileYSql(8, "elat")} AS ey FROM pts),
       |fc AS (SELECT feature_id, flon, flat,
       |              ${tileXSql(8, "flon")} AS fx, ${tileYSql(8, "flat")} AS fy FROM cf),
       |cand AS (
       |  SELECT p.event_id, f.feature_id,
       |         greatest(abs(dxs.dx), abs(dys.dy)) AS cd,
       |         ${haversineSql("p.elon", "p.elat", "f.flon", "f.flat")} AS dist
       |  FROM pc p, LATERAL (SELECT unnest(generate_series(-8, 8)) AS dx) dxs,
       |       LATERAL (SELECT unnest(generate_series(-8, 8)) AS dy) dys
       |  JOIN fc f ON f.fx = p.ex + dxs.dx AND f.fy = p.ey + dys.dy),
       |m AS (SELECT *, min(cd) OVER (PARTITION BY event_id) AS cdmin FROM cand),
       |r AS (SELECT *, CASE WHEN cdmin <= 2 THEN 2
       |                     WHEN cdmin <= 4 THEN 4 ELSE 8 END AS radius FROM m),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_id
       |                               ORDER BY dist ASC, feature_id ASC) AS rn
       |  FROM r WHERE cd <= radius)
       |SELECT event_id, feature_id, round(dist, 3) AS dist_km, radius
       |FROM ranked WHERE rn = 1""".stripMargin

  // =================================================================
  // F4: context chain (country rect ⊃ place rect per point)
  // =================================================================

  def contextChain(spark: SparkSession, sfDir: String): DataFrame =
    Geocode.contextChain(eventPoints(spark, sfDir), Seq(
      ("continent", continentFeatures(spark, sfDir), 4),
      ("country", nationFeatures(spark, sfDir), 6),
      ("place", custFeatures(spark, sfDir), 8)))

  def contextChainSql: String =
    s"""WITH ct AS (${continentFeaturesSql}), nf AS (${nationFeaturesSql}),
       |cf AS (${custFeaturesSql}), pts AS (${eventPointsSql})
       |SELECT p.event_id, 'continent' AS typ, min(f.feature_id) AS feature_id
       |FROM pts p JOIN ct f ON p.elon >= f.west AND p.elon < f.east
       |                    AND p.elat >= f.south AND p.elat < f.north
       |GROUP BY 1
       |UNION ALL
       |SELECT p.event_id, 'country' AS typ, min(f.feature_id) AS feature_id
       |FROM pts p JOIN nf f ON p.elon >= f.west AND p.elon < f.east
       |                    AND p.elat >= f.south AND p.elat < f.north
       |GROUP BY 1
       |UNION ALL
       |SELECT p.event_id, 'place' AS typ, min(f.feature_id) AS feature_id
       |FROM pts p JOIN cf f ON p.elon >= f.west AND p.elon < f.east
       |                    AND p.elat >= f.south AND p.elat < f.north
       |GROUP BY 1""".stripMargin

  // =================================================================
  // F4: context assembly — the per-point context chain collected into ONE
  // ordered value (coarse→fine, carmen's result `context` array), via
  // sort_array(collect_list(struct(...))) so no global sort is involved.
  // =================================================================

  def contextAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    val rank = when(col("typ") === "continent", 0)
      .when(col("typ") === "country", 1).otherwise(lit(2))
    contextChain(spark, sfDir)
      .withColumn("type_rank", rank)
      .groupBy(col("event_id"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("type_rank"), col("typ"), col("feature_id")))),
          s => concat(s.getField("typ"), lit(":"), s.getField("feature_id"))),
        " > ").as("context"))
  }

  def contextAssembleSql: String =
    s"""WITH chain AS (${contextChainSql})
       |SELECT event_id,
       |       string_agg(typ || ':' || feature_id, ' > '
       |         ORDER BY CASE WHEN typ = 'continent' THEN 0
       |                       WHEN typ = 'country' THEN 1 ELSE 2 END,
       |                  typ, feature_id) AS context
       |FROM chain GROUP BY 1""".stripMargin

  // =================================================================
  // C3: bbox filter (z10 cells emitted for the matching points)
  // =================================================================

  private val bbox = (-30.0, -20.0, 40.0, 35.0) // w, s, e, n

  def bboxFilter(spark: SparkSession, sfDir: String): DataFrame =
    eventPoints(spark, sfDir)
      .filter(col("elon") >= bbox._1 && col("elon") < bbox._3 &&
        col("elat") >= bbox._2 && col("elat") < bbox._4)
      .select(col("event_id"), F.cellAt(lit(10), col("elon"), col("elat")).as("cell"))

  def bboxFilterSql: String =
    s"""WITH pts AS (${eventPointsSql})
       |SELECT event_id, ${cellSql(10, "elon", "elat")} AS cell
       |FROM pts
       |WHERE elon >= ${bbox._1} AND elon < ${bbox._3}
       |  AND elat >= ${bbox._2} AND elat < ${bbox._4}""".stripMargin

  // =================================================================
  // A4/E3: grid index content (phrase → cover cells of its feature)
  // =================================================================

  def gridIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = TableIO.read(spark, s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("feature_id"), F.phraseForm(col("c_name")).as("phrase"))
    custFeatures(spark, sfDir)
      .join(cust, "feature_id")
      .select(col("phrase"), explode(F.tileCover(col("geom_wkb"), lit(8))).as("cell"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_cells"), min("cell").as("min_cell"), max("cell").as("max_cell"))
  }

  def gridIndexSql: String =
    s"""WITH cf AS (${custFeaturesSql}),
       |nm AS (SELECT c_custkey AS feature_id, lower(replace(c_name, '#', ' ')) AS phrase
       |       FROM customer),
       |cover AS (
       |  SELECT n.phrase, ${rectCellSql(8)} AS cell
       |  FROM ${rectCoverSql(8, "cf f JOIN nm n ON n.feature_id = f.feature_id")})
       |SELECT phrase, count(*) AS n_cells, min(cell) AS min_cell, max(cell) AS max_cell
       |FROM cover GROUP BY 1""".stripMargin

  // =================================================================
  // E3: per-phrase grid lists — carmen's gridstore shape (sorted, capped
  // list per phrase); the flat sorted table (IndexBuild) is the at-scale
  // form, this is the list-materialized view. List rendered as a joined
  // string so the oracle compare is representation-stable.
  // =================================================================

  def gridLists(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = TableIO.read(spark, s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("feature_id"), F.phraseForm(col("c_name")).as("phrase"))
    custFeatures(spark, sfDir)
      .join(cust, "feature_id")
      .select(col("phrase"), explode(F.tileCover(col("geom_wkb"), lit(8))).as("cell"))
      .groupBy("phrase")
      .agg(concat_ws(",",
        slice(sort_array(collect_list(col("cell"))), 1, 20)).as("cells"))
  }

  def gridListsSql: String =
    s"""WITH cf AS (${custFeaturesSql}),
       |nm AS (SELECT c_custkey AS feature_id, lower(replace(c_name, '#', ' ')) AS phrase
       |       FROM customer),
       |cover AS (
       |  SELECT n.phrase, ${rectCellSql(8)} AS cell
       |  FROM ${rectCoverSql(8, "cf f JOIN nm n ON n.feature_id = f.feature_id")})
       |SELECT phrase,
       |       array_to_string(list_slice(list_sort(list(cell)), 1, 20), ',') AS cells
       |FROM cover GROUP BY 1""".stripMargin

  // =================================================================
  // B3: indexable-phrase generation + autocomplete degens — feature text
  // "Name, Synonym" → canonical phrase forms (comma-split, token-rule
  // normalized) → all token prefixes (the "degen" entries carmen writes so
  // prefix queries hit exact keys). Pure built-ins + phrase_form.
  // =================================================================

  def phraseDegens(spark: SparkSession, sfDir: String): DataFrame = {
    val c = TableIO.read(spark, s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("feature_id"),
        concat(col("c_name"), lit(", "), col("c_name"), lit(" district")).as("text"))
    val phrases = c.select(col("feature_id"),
      explode(array_distinct(filter(
        transform(split(col("text"), ","), s => F.phraseForm(s)),
        x => x =!= ""))).as("phrase"))
    phrases.select(col("feature_id"), col("phrase"),
      explode(expr("transform(sequence(1, size(split(phrase, ' '))), " +
        "k -> array_join(slice(split(phrase, ' '), 1, k), ' '))")).as("degen"))
  }

  def phraseDegensSql: String =
    s"""WITH ph AS (
       |  SELECT c_custkey AS feature_id, lower(replace(c_name, '#', ' ')) AS phrase
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey, lower(replace(c_name, '#', ' ')) || ' district'
       |  FROM customer),
       |t AS (SELECT feature_id, phrase, string_split(phrase, ' ') AS toks FROM ph)
       |SELECT feature_id, phrase, array_to_string(list_slice(toks, 1, ks.k), ' ') AS degen
       |FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS k) ks""".stripMargin

  // =================================================================
  // E1/B6: term → document frequency
  // =================================================================

  def freqIndex(spark: SparkSession, sfDir: String): DataFrame =
    TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), explode(array_distinct(F.tokenize(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  def freqIndexSql: String =
    s"""SELECT t AS term, count(*) AS df FROM (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |GROUP BY 1""".stripMargin

  // =================================================================
  // E5: hot cells (salting input — top-20 heavy z6 cells)
  // =================================================================

  def hotCells(spark: SparkSession, sfDir: String): DataFrame =
    eventPoints(spark, sfDir)
      .select(F.cellAt(lit(6), col("elon"), col("elat")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("cell").asc)
      .limit(20)

  def hotCellsSql: String =
    s"""WITH pts AS (${eventPointsSql})
       |SELECT ${cellSql(6, "elon", "elat")} AS cell, count(*) AS cnt
       |FROM pts GROUP BY 1
       |ORDER BY cnt DESC, cell ASC LIMIT 20""".stripMargin

  // =================================================================
  // Trajectory analytics over the event stream (mobility pipelines):
  // OD-flow matrix and time-gap trip segmentation. Both shapes are
  // user-keyed window passes — the canonical trajectory partitioning: a
  // user's history sorts inside one partition, flows/trips aggregate
  // with map-side combine. Timestamps compare as INTEGER microseconds on
  // both engines (Synth's `us` clock) in Synth's per-user fix order.
  // =================================================================

  /** OD flows: consecutive event pairs per user → (origin z6 cell,
    * destination z6 cell) transition counts. ONE user-keyed exchange for
    * the lead window, then a map-combined cell-pair aggregation. At 10^12
    * events the window partitions by user (bounded per-user history);
    * no text or payload rides either exchange. */
  def odFlows(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(col("event_id"), col("us"), col("user_id"))
      .withColumn("o_cell", F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))))
      .withColumn("d_cell", lead(col("o_cell"), 1).over(fixOrder))
      .filter(col("d_cell").isNotNull)
      .groupBy(col("o_cell"), col("d_cell"))
      .agg(count(lit(1)).as("flows"))
  }

  def odFlowsSql: String =
    s"""WITH ${odFlowCtes(loops = true)}
       |SELECT o_cell, d_cell, flows FROM edges""".stripMargin

  /** SQL twin of [[odFlows]] as the CTE chain `ev` → `seq` → `edges`
    * (o_cell, d_cell, flows), shared by every OD-graph oracle; `loops =
    * false` drops the self-loops (consecutive fixes in one cell). */
  private def odFlowCtes(loops: Boolean): String =
    s"""ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         ${cellSql(6, s"($evLonSql)", s"($evLatSql)")} AS o_cell
       |  FROM events),
       |seq AS (
       |  SELECT o_cell, lead(o_cell, 1) OVER ($fixOrderSql) AS d_cell
       |  FROM ev),
       |edges AS MATERIALIZED (
       |  SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS flows
       |  FROM seq WHERE d_cell IS NOT NULL${if (loops) "" else " AND d_cell <> o_cell"}
       |  GROUP BY o_cell, d_cell)""".stripMargin

  /** Trip segmentation: a >30-minute silence splits a user's event
    * sequence into trips (the classic stay-point / session cut). trip =
    * running sum of gap flags over the same user window the lag runs in —
    * one exchange total: the groupBy keys (user_id, trip) are clustered
    * by the window's hash(user_id) partitioning, so the aggregation
    * reuses the exchange. Gaps are exact integer microseconds. */
  def tripSegments(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"))
      .withColumn("gap", when(
        col("us") - coalesce(lag(col("us"), 1).over(fixOrder), col("us")) > lit(1800000000L),
        lit(1L)).otherwise(lit(0L)))
      .withColumn("trip", sum(col("gap")).over(
        fixOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("trip"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
  }

  def tripSegmentsSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us FROM events),
       |flg AS (
       |  SELECT user_id, event_id, us,
       |         CASE WHEN us - coalesce(lag(us, 1) OVER ($fixOrderSql), us) > 1800000000 THEN 1 ELSE 0 END AS gap
       |  FROM ev),
       |trips AS (
       |  SELECT user_id, us,
       |         sum(gap) OVER ($fixOrderSql
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS trip
       |  FROM flg)
       |SELECT user_id, CAST(trip AS BIGINT) AS trip,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(max(us) - min(us) AS BIGINT) AS dur_us
       |FROM trips GROUP BY user_id, trip""".stripMargin

  /** The z6 event-count surface the queen-stencil statistics share:
    * (cell, keys…, cnt, x, y) per occupied z6 cell of `pts` (elon, elat,
    * keys…), persisted — every caller reads it at least twice. */
  private def z6Counts(pts: DataFrame, keys: String*): DataFrame =
    pts.select(F.cellAt(lit(6), col("elon"), col("elat")).as("cell") +: keys.map(col): _*)
      .groupBy("cell", keys: _*).agg(count(lit(1)).as("cnt"))
      .withColumn("x", cellX(col("cell")))
      .withColumn("y", cellY(col("cell")))
      .persist()

  /** SQL twin of [[z6Counts]]: the `counts` CTE over `pts`. `bin` is
    * emerging_hotspot's extra key: (b's expression, the FROM it reads). */
  private def z6CountsSql(bin: Option[(String, String)] = None): String = {
    val cell = s"${cellSql(6, "elon", "elat")} AS cell"
    val (key, src, grp) = bin match {
      case None => ("", s"(SELECT $cell FROM pts)", "1")
      case Some((b, from)) =>
        (" b,", s"(SELECT $cell,\n               $b AS b\n        FROM $from)", "1, 2")
    }
    s"""counts AS MATERIALIZED (
       |  SELECT cell,$key CAST(count(*) AS BIGINT) AS cnt,
       |         ${cellXSql("cell")} AS x,
       |         ${cellYSql("cell")} AS y
       |  FROM $src
       |  GROUP BY $grp)""".stripMargin
  }

  /** Grid-clamped queen stencil (3×3, self included) over a z6 frame with
    * (cell, x, y): each row re-keyed to every in-grid neighbour cell,
    * keeping `carry` (evaluated with the row's offset `dx`, `dy` in scope). */
  private def queen(df: DataFrame, carry: Column*): DataFrame =
    df.withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .filter(col("x") + col("dx") >= 0 && col("x") + col("dx") < 64 &&
        col("y") + col("dy") >= 0 && col("y") + col("dy") < 64)
      .select(cellOffset(col("cell"), col("dx"), col("dy")).as("cell") +: carry: _*)

  /** SQL twin of [[queen]] aggregated: the `contrib` CTE over `src`,
    * grouped by `grp`. `sel` continues the select list after the
    * neighbour cell: its head on that line, each further line below. */
  private def queenSql(src: String, sel: Seq[String], grp: String = "1"): String =
    s"""contrib AS (
       |  SELECT ${cellOffsetSql("cell", "dx.d", "dy.d")} AS cell${sel.head}${sel.tail.map("\n         " + _).mkString}
       |  FROM $src,
       |       (SELECT unnest([-1, 0, 1]) AS d) dx,
       |       (SELECT unnest([-1, 0, 1]) AS d) dy
       |  WHERE x + dx.d >= 0 AND x + dx.d < 64 AND y + dy.d >= 0 AND y + dy.d < 64
       |  GROUP BY $grp)""".stripMargin

  /** 3×3 box smoothing of per-cell event counts (the KDE/heatmap
    * smoothing pass of raster analytics): counts per z6 cell, then each
    * cell's smoothed value sums its existing neighbors' counts. Cell ids
    * decode to (x, y) arithmetically (cell = z·2^56 + x·2^28 + y), the
    * 9-probe explode is the dbscan blocking trick, border probes clip to
    * the [0, 2^z) grid. Two map-combined aggregations + one cell join —
    * all integer arithmetic. */
  def cellSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val contrib = queen(counts, col("cnt"))
      .groupBy("cell").agg(sum(col("cnt")).as("sm"))
    counts.select(col("cell"), col("cnt")).join(contrib, "cell")
      .select(col("cell"), col("cnt"), col("sm"))
  }

  def cellSmoothSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |${queenSql("counts", Seq(", CAST(sum(cnt) AS BIGINT) AS sm"))}
       |SELECT counts.cell, counts.cnt, contrib.sm
       |FROM counts JOIN contrib ON counts.cell = contrib.cell""".stripMargin

  // =================================================================
  // E5c: Getis–Ord Gi* hotspot z-scores (Getis & Ord '92) over z6 cell
  // counts: each occupied cell's 3×3 neighborhood sum standardized
  // against the global count moments. The study area is the OCCUPIED
  // grid (the all-zero ocean would otherwise dominate the moments —
  // documented choice, mirrored exactly). Neighbor sums reuse the
  // cell_smooth 9-probe arithmetic explode, plus the occupied-neighbor
  // count wn (the Σw term). Global moments are ONE 1-row broadcast;
  // everything is integer until the final standardization, written
  // token-identically on both engines and rounded.
  // =================================================================

  /** The z-score expression shared token-for-token by both engines;
    * `n, sumc, sumc2, sm, wn` are integer columns in scope. Guards: a
    * degenerate universe (n ≤ 1), a full neighborhood covering the whole
    * universe (wn = n ⇒ zero weight variance) or zero count variance all
    * pin z to 0.0 identically. */
  private val giZExpr: String = {
    val mean = "CAST(sumc AS DOUBLE) / n"
    val s2 = s"CAST(sumc2 AS DOUBLE) / n - ($mean) * ($mean)"
    s"CASE WHEN n <= 1 OR wn * (n - wn) <= 0 OR $s2 <= 0.0 THEN 0.0 " +
      s"ELSE round((sm - ($mean) * wn) / (sqrt($s2) * " +
      s"sqrt((CAST(n AS DOUBLE) * wn - CAST(wn AS DOUBLE) * wn) / (n - 1.0))), 6) END"
  }

  def giStar(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val contrib = queen(counts, col("cnt"))
      .groupBy("cell").agg(sum(col("cnt")).as("sm"), count(lit(1)).as("wn"))
    val glob = counts.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sumc"),
      sum(col("cnt") * col("cnt")).as("sumc2"))
    counts.select("cell", "cnt").join(contrib, "cell")
      .crossJoin(broadcast(glob))
      .withColumn("z_gi", expr(giZExpr))
      .select(col("cell"), col("cnt"), col("sm"), col("wn"), col("z_gi"))
  }

  def giStarSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |${queenSql("counts", Seq(",", "CAST(sum(cnt) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS wn"))},
       |gstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sumc,
       |                 CAST(sum(cnt * cnt) AS BIGINT) AS sumc2 FROM counts)
       |SELECT counts.cell, counts.cnt, contrib.sm, contrib.wn, $giZExpr AS z_gi
       |FROM counts JOIN contrib ON counts.cell = contrib.cell CROSS JOIN gstat""".stripMargin

  // =================================================================
  // E5d: Mann–Kendall trend per cell ("emerging hot spot" analysis,
  // Mann '45 / Kendall '75 as popularized by the ESRI space-time cube):
  // bucket each z5 cell's events into 8 global time bins, then score
  // the bin-count series with the MK S statistic (Σ_{i<j} sign(c_j −
  // c_i), missing bins count 0) and its tie-corrected variance. S and
  // var_num are EXACT integers — the 28 sign terms are unrolled (no
  // fold state, no list_reduce-over-structs trap) and the tie term
  // uses the per-position identity Σ_k t_k(t_k−1)(2t_k+5) =
  // Σ_p (r_p−1)(2r_p+5). Only the final z is a double, token-identical
  // both engines with an integer numerator (s ∓ 1). Shape: one
  // (cell,bin) exchange + one cell exchange, both skinny; the global
  // time range is a 1-row broadcast. The dense 8-array rides an
  // explode(array(..)) so the 56 unrolled references hit the column,
  // not 56 inlined copies of the transform (Generator outputs can't be
  // collapsed).
  // =================================================================

  /** MK S statistic: Σ over the 28 ordered bin pairs of sign(later −
    * earlier); `ix` renders an (1-based) element access for the engine. */
  private def mkSExpr(ix: Int => String): String =
    (for (j <- 1 to 7; i <- 0 until j)
      yield s"CAST(sign(${ix(j + 1)} - ${ix(i + 1)}) AS BIGINT)").mkString(" + ")

  /** Dense per-z5-cell 8-bin count series shared by mk_trend and
    * theil_sen: one (cell,bin) exchange + one cell exchange; the global
    * time range is a 1-row broadcast. The dense 8-array rides an
    * explode(array(..)) so the many unrolled references downstream hit
    * the column, not inlined copies of the transform. */
  private def mkDense(spark: SparkSession, sfDir: String): DataFrame = {
    val base = events(spark, sfDir)
      .select(col("event_id"), col("us"), evLon(col("event_id")).as("elon"),
        evLat(col("event_id")).as("elat"))
      .select(F.cellAt(lit(5), col("elon"), col("elat")).as("cell"), col("us"))
    val stats = base.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    base.crossJoin(broadcast(stats))
      .withColumn("b", expr("((us - mn) * 8) div (mx - mn + 1)"))
      .groupBy(col("cell"), col("b")).agg(count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(collect_list(struct(col("b"), col("cnt"))).as("kv"),
        sum(col("cnt")).as("n_events"))
      .withColumn("arr", explode(array(expr(
        "transform(sequence(0, 7), i -> coalesce(try_element_at(map_from_entries(kv), CAST(i AS BIGINT)), CAST(0 AS BIGINT)))"))))
  }

  /** SQL mirror of [[mkDense]] as CTE bodies (token-for-token shared by
    * mkTrendSql / theilSenSql so the oracles never re-derive the bin
    * arithmetic). */
  private def mkDenseSqlCtes: String =
    s"""pts AS (SELECT event_id, $evUsSql AS us,
       |               $evLonSql AS elon, $evLatSql AS elat FROM events),
       |base AS (SELECT ${cellSql(5, "elon", "elat")} AS cell, us FROM pts),
       |st AS (SELECT min(us) AS mn, max(us) AS mx FROM base),
       |cnts AS MATERIALIZED (
       |  SELECT cell, ((us - mn) * 8) // (mx - mn + 1) AS b,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM base CROSS JOIN st GROUP BY 1, 2),
       |grid AS (SELECT c.cell, gs.b
       |         FROM (SELECT DISTINCT cell FROM cnts) c,
       |              (SELECT unnest(generate_series(0, 7)) AS b) gs),
       |dense AS (SELECT g.cell, list(coalesce(c.cnt, 0) ORDER BY g.b) AS arr,
       |                 CAST(sum(coalesce(c.cnt, 0)) AS BIGINT) AS n_events
       |          FROM grid g LEFT JOIN cnts c ON g.cell = c.cell AND g.b = c.b
       |          GROUP BY g.cell)""".stripMargin

  def mkTrend(spark: SparkSession, sfDir: String): DataFrame = {
    mkDense(spark, sfDir)
      .withColumn("s_mk", expr(mkSExpr(k => s"element_at(arr, $k)")))
      .withColumn("var_num", expr(
        "1176 - aggregate(transform(arr, v -> CAST((size(filter(arr, x -> x = v)) - 1) * " +
          "(2 * size(filter(arr, x -> x = v)) + 5) AS BIGINT)), CAST(0 AS BIGINT), (a, t) -> a + t)"))
      .withColumn("z_mk", expr(
        "CASE WHEN var_num <= 0 OR s_mk = 0 THEN 0.0 " +
          "ELSE round((s_mk + CASE WHEN s_mk > 0 THEN -1 ELSE 1 END) / " +
          "sqrt(CAST(var_num AS DOUBLE) / 18.0), 6) END"))
      .select(col("cell"), col("n_events"), col("s_mk"), col("var_num"), col("z_mk"))
  }

  def mkTrendSql: String =
    s"""WITH $mkDenseSqlCtes,
       |mk AS (SELECT cell, n_events,
       |         ${mkSExpr(k => s"arr[$k]")} AS s_mk,
       |         1176 - CAST(list_sum(list_transform(arr, v ->
       |           (len(list_filter(arr, x -> x = v)) - 1) *
       |           (2 * len(list_filter(arr, x -> x = v)) + 5))) AS BIGINT) AS var_num
       |       FROM dense)
       |SELECT cell, n_events, s_mk, var_num,
       |  CASE WHEN var_num <= 0 OR s_mk = 0 THEN 0.0
       |       ELSE round((s_mk + CASE WHEN s_mk > 0 THEN -1 ELSE 1 END) /
       |            sqrt(CAST(var_num AS DOUBLE) / 18.0), 6) END AS z_mk
       |FROM mk""".stripMargin

  // =================================================================
  // E5e: Theil–Sen trend slope per cell (Theil '50 / Sen '68), the
  // robust companion to mk_trend in the emerging-hotspot toolbox: the
  // median of the 28 pairwise slopes (c_j − c_i)/(j − i) over the same
  // dense 8-bin count series. Every slope is ONE double division of
  // exact integers — identical IEEE operands on both engines — and the
  // median averages the 14th/15th order statistics of a 28-element
  // sort (doubles, no NaNs/nulls ⇒ identical order). Plan shape is
  // mkDense's: two skinny exchanges, broadcast time range.
  // =================================================================

  /** The 28 pairwise slopes of the 8-bin series, ascending (j, i)
    * unroll; `ix` renders a 1-based element access for the engine. */
  private def tsSlopesExpr(ix: Int => String): String =
    (for (j <- 1 to 7; i <- 0 until j)
      yield s"CAST(${ix(j + 1)} - ${ix(i + 1)} AS DOUBLE) / CAST(${j - i} AS DOUBLE)")
      .mkString(", ")

  def theilSen(spark: SparkSession, sfDir: String): DataFrame =
    mkDense(spark, sfDir)
      .withColumn("s_mk", expr(mkSExpr(k => s"element_at(arr, $k)")))
      .withColumn("sl", expr(
        s"array_sort(array(${tsSlopesExpr(k => s"element_at(arr, $k)")}))"))
      .withColumn("slope_ts", expr(
        "round((element_at(sl, 14) + element_at(sl, 15)) / CAST(2 AS DOUBLE), 6)"))
      .select(col("cell"), col("n_events"), col("s_mk"), col("slope_ts"))

  def theilSenSql: String =
    s"""WITH $mkDenseSqlCtes,
       |ts AS (SELECT cell, n_events,
       |         ${mkSExpr(k => s"arr[$k]")} AS s_mk,
       |         list_sort([${tsSlopesExpr(k => s"arr[$k]")}]) AS sl
       |       FROM dense)
       |SELECT cell, n_events, s_mk,
       |       round((sl[14] + sl[15]) / CAST(2 AS DOUBLE), 6) AS slope_ts
       |FROM ts""".stripMargin

  // =================================================================
  // E5f: emerging-hotspot classification (the ESRI space-time-cube
  // workflow, composed from this engine's own kernels): Gi* z-scores
  // per z6 cell × 8 global time bins — each bin standardized against
  // THAT bin's occupied-cell moments (the gi_star occupied-grid
  // study-area choice, applied per bin) — then a Mann–Kendall trend
  // over each cell's dense z series (missing (cell,bin) → z = 0.0) and
  // a frozen-threshold classification (hot: z_gi ≥ 1.96; trend:
  // |z_mk| ≥ 1.645). The MK sign/tie terms operate on z doubles that
  // are round(…,6)-identical across engines, so S and var_num stay
  // exact integers. Shape: (cell,bin) count exchange → (cell,bin)
  // neighbor exchange → 8-row broadcast moments → one cell exchange
  // for the series collect. Fixed 9-probe fanout, no text on any wire;
  // at 10^12 events every aggregation is map-combined and the only
  // wide rows are the final 8-element arrays.
  // =================================================================

  /** Frozen classification rules (documented, mirrored verbatim);
    * `hot_cnt, last_hot, z_mk` are in scope. */
  private val ehsLabelExpr: String =
    "CASE WHEN hot_cnt = 0 THEN 'none' " +
      "WHEN last_hot AND hot_cnt = 1 THEN 'new' " +
      "WHEN last_hot AND hot_cnt = 8 AND z_mk >= 1.645 THEN 'intensifying' " +
      "WHEN last_hot AND hot_cnt = 8 THEN 'persistent' " +
      "WHEN last_hot AND z_mk >= 1.645 THEN 'emerging' " +
      "WHEN last_hot THEN 'occasional' " +
      "WHEN z_mk <= -1.645 THEN 'diminishing' " +
      "ELSE 'historical' END"

  def emergingHotspot(spark: SparkSession, sfDir: String): DataFrame = {
    val base = events(spark, sfDir)
      .select(col("event_id"), col("us"), evLon(col("event_id")).as("elon"),
        evLat(col("event_id")).as("elat"))
    val st = base.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val counts = z6Counts(base.crossJoin(broadcast(st))
      .withColumn("b", expr("((us - mn) * 8) div (mx - mn + 1)")), "b")
    val contrib = queen(counts, col("b"), col("cnt"))
      .groupBy(col("cell"), col("b")).agg(sum(col("cnt")).as("sm"), count(lit(1)).as("wn"))
    val glob = counts.groupBy(col("b")).agg(count(lit(1)).as("n"),
      sum(col("cnt")).as("sumc"), sum(col("cnt") * col("cnt")).as("sumc2"))
    counts.select("cell", "b", "cnt")
      .join(contrib, Seq("cell", "b"))
      .join(broadcast(glob), Seq("b"))
      .withColumn("z_gi", expr(giZExpr))
      .groupBy("cell")
      .agg(collect_list(struct(col("b"), col("z_gi"))).as("kv"),
        sum(col("cnt")).as("n_events"))
      .withColumn("arr", explode(array(expr(
        "transform(sequence(0, 7), i -> coalesce(try_element_at(map_from_entries(kv), CAST(i AS BIGINT)), CAST(0.0 AS DOUBLE)))"))))
      .withColumn("s_mk", expr(mkSExpr(k => s"element_at(arr, $k)")))
      .withColumn("var_num", expr(
        "1176 - aggregate(transform(arr, v -> CAST((size(filter(arr, x -> x = v)) - 1) * " +
          "(2 * size(filter(arr, x -> x = v)) + 5) AS BIGINT)), CAST(0 AS BIGINT), (a, t) -> a + t)"))
      .withColumn("z_mk", expr(
        "CASE WHEN var_num <= 0 OR s_mk = 0 THEN 0.0 " +
          "ELSE round((s_mk + CASE WHEN s_mk > 0 THEN -1 ELSE 1 END) / " +
          "sqrt(CAST(var_num AS DOUBLE) / 18.0), 6) END"))
      .withColumn("hot_cnt", expr("CAST(size(filter(arr, v -> v >= 1.96)) AS BIGINT)"))
      .withColumn("last_hot", expr("element_at(arr, 8) >= 1.96"))
      .withColumn("label", expr(ehsLabelExpr))
      .select(col("cell"), col("n_events"), col("hot_cnt"), col("s_mk"),
        col("z_mk"), col("label"))
  }

  def emergingHotspotSql: String =
    s"""WITH pts AS (SELECT event_id, $evUsSql AS us,
       |               $evLonSql AS elon, $evLatSql AS elat FROM events),
       |st AS (SELECT min(us) AS mn, max(us) AS mx FROM pts),
       |${z6CountsSql(Some(("((us - mn) * 8) // (mx - mn + 1)", "pts CROSS JOIN st")))},
       |${queenSql("counts", Seq(", b,", "CAST(sum(cnt) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS wn"), "1, 2")},
       |gstat AS (SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sumc,
       |                 CAST(sum(cnt * cnt) AS BIGINT) AS sumc2 FROM counts GROUP BY b),
       |zt AS MATERIALIZED (
       |  SELECT counts.cell, counts.b, counts.cnt, $giZExpr AS z_gi
       |  FROM counts JOIN contrib ON counts.cell = contrib.cell AND counts.b = contrib.b
       |  JOIN gstat ON counts.b = gstat.b),
       |grid AS (SELECT c.cell, gs.b
       |         FROM (SELECT DISTINCT cell FROM zt) c,
       |              (SELECT unnest(generate_series(0, 7)) AS b) gs),
       |dense AS (SELECT g.cell, list(coalesce(zt.z_gi, 0.0) ORDER BY g.b) AS arr,
       |                 CAST(sum(coalesce(zt.cnt, 0)) AS BIGINT) AS n_events
       |          FROM grid g LEFT JOIN zt ON g.cell = zt.cell AND g.b = zt.b
       |          GROUP BY g.cell),
       |mk AS (SELECT cell, n_events,
       |         ${mkSExpr(k => s"arr[$k]")} AS s_mk,
       |         1176 - CAST(list_sum(list_transform(arr, v ->
       |           (len(list_filter(arr, x -> x = v)) - 1) *
       |           (2 * len(list_filter(arr, x -> x = v)) + 5))) AS BIGINT) AS var_num,
       |         CAST(len(list_filter(arr, v -> v >= 1.96)) AS BIGINT) AS hot_cnt,
       |         arr[8] >= 1.96 AS last_hot
       |       FROM dense),
       |fin AS (SELECT cell, n_events, hot_cnt, s_mk, last_hot,
       |         CASE WHEN var_num <= 0 OR s_mk = 0 THEN 0.0
       |              ELSE round((s_mk + CASE WHEN s_mk > 0 THEN -1 ELSE 1 END) /
       |                   sqrt(CAST(var_num AS DOUBLE) / 18.0), 6) END AS z_mk
       |       FROM mk)
       |SELECT cell, n_events, hot_cnt, s_mk, z_mk, $ehsLabelExpr AS label
       |FROM fin""".stripMargin

  // =================================================================
  // Geofence transition detection (the mobility "enter/exit alerts"
  // op): every event tags with its containing fence — the nation rects,
  // min(feature_id) on overlap (frozen rule), −1 outside — then a
  // per-user lag window emits only the transition rows
  // (enter / exit / switch). Fences are a dim table at any scale
  // (broadcast); the tag groupBy keys on the event, the window on the
  // user — two skinny exchanges, integer-microsecond ordering,
  // half-open [w,e)×[s,n) PIP semantics as everywhere in the engine.
  // =================================================================

  def geofenceEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        evLon(col("event_id")).as("elon"), evLat(col("event_id")).as("elat"))
    val fences = nationFeatures(spark, sfDir)
      .select(col("feature_id"), col("west"), col("south"), col("east"), col("north"))
    ev.join(broadcast(fences),
        col("elon") >= col("west") && col("elon") < col("east") &&
          col("elat") >= col("south") && col("elat") < col("north"), "left")
      .groupBy(col("user_id"), col("event_id"), col("us"))
      .agg(coalesce(min(col("feature_id")), lit(-1L)).as("fence"))
      .withColumn("from_f", lag(col("fence"), 1).over(fixOrder))
      .filter(col("from_f").isNotNull && col("from_f") =!= col("fence"))
      .select(col("user_id"), col("event_id"), col("us"), col("from_f"), col("fence").as("to_f"),
        when(col("from_f") === lit(-1L), lit("enter"))
          .when(col("fence") === lit(-1L), lit("exit"))
          .otherwise(lit("switch")).as("kind"))
  }

  def geofenceEventsSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, $evUsSql AS us,
       |             $evLonSql AS elon, $evLatSql AS elat FROM events),
       |f AS (${nationFeaturesSql.replace("\n", "\n       ")}),
       |tag AS (SELECT ev.user_id, ev.event_id, ev.us,
       |         CAST(coalesce(min(f.feature_id), -1) AS BIGINT) AS fence
       |        FROM ev LEFT JOIN f ON ev.elon >= f.west AND ev.elon < f.east
       |                           AND ev.elat >= f.south AND ev.elat < f.north
       |        GROUP BY 1, 2, 3),
       |tr AS (SELECT user_id, event_id, us, fence,
       |        lag(fence, 1) OVER ($fixOrderSql) AS from_f
       |       FROM tag)
       |SELECT user_id, event_id, us, from_f, fence AS to_f,
       |  CASE WHEN from_f = -1 THEN 'enter' WHEN fence = -1 THEN 'exit'
       |       ELSE 'switch' END AS kind
       |FROM tr WHERE from_f IS NOT NULL AND from_f <> fence""".stripMargin

  // =================================================================
  // Areal interpolation (the overlay re-aggregation op of polygon
  // analytics): redistribute each source zone's integer "population"
  // onto a fixed 15°×10° target grid by intersection-area weight. The
  // source zones are the customer rects ON THE INTEGER MILLI LATTICE —
  // every bound, every intersection extent and every area is exact
  // BIGINT arithmetic, and the per-(source,cell) share is quantized by
  // EXACT integer division (pop · ia · 10⁹) div sa BEFORE the target
  // sum, so aggregation order never matters (numerator ≤ 3·10¹⁸ <
  // 2⁶³). Blocking explodes each rect to its ≤ 2×2 covered grid cells
  // (rect extent ≤ 2.4° ≪ 15°) — one map-combined target exchange
  // total. Axis shifts (+180000/+100000 milli) keep the floor
  // divisions on non-negative integers, where Spark div ≡ DuckDB //.
  // =================================================================

  def arealInterp(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    val (x, y) = (custLattice.x.milli(k), custLattice.y.milli(k))
    TableIO.read(spark, s"$sfDir/customer.parquet")
      .select(k.as("src_id"),
        ((k % 1000) + lit(10L)).as("pop"),
        (x - (lit(300L) + (k % 7) * 150)).as("wm"),
        (y - (lit(200L) + (k % 5) * 100)).as("sm"),
        (x + (lit(300L) + (k % 7) * 150)).as("em"),
        (y + (lit(200L) + (k % 5) * 100)).as("nm"))
      .withColumn("sa", (col("em") - col("wm")) * (col("nm") - col("sm")))
      .withColumn("gx", explode(expr(
        "sequence((wm + 180000) div 15000, (em - 1 + 180000) div 15000)")))
      .withColumn("gy", explode(expr(
        "sequence((sm + 100000) div 10000, (nm - 1 + 100000) div 10000)")))
      .withColumn("ia", expr(
        "(least(em, (gx + 1) * 15000 - 180000) - greatest(wm, gx * 15000 - 180000)) * " +
          "(least(nm, (gy + 1) * 10000 - 100000) - greatest(sm, gy * 10000 - 100000))"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n_src"),
        sum(expr("(pop * ia * 1000000000) div sa")).as("pop_q"))
  }

  def arealInterpSql: String = {
    val (x, y) = (custLattice.x.milliSql("c_custkey"), custLattice.y.milliSql("c_custkey"))
    s"""WITH src AS (
       |  SELECT c_custkey AS src_id,
       |         (c_custkey % 1000) + 10 AS pop,
       |         $x - (300 + (c_custkey % 7) * 150) AS wm,
       |         $y - (200 + (c_custkey % 5) * 100) AS sm,
       |         $x + (300 + (c_custkey % 7) * 150) AS em,
       |         $y + (200 + (c_custkey % 5) * 100) AS nm
       |  FROM customer),
       |gxs AS (SELECT *, unnest(generate_series((wm + 180000) // 15000,
       |                                          (em - 1 + 180000) // 15000)) AS gx
       |        FROM src),
       |gxy AS (SELECT *, unnest(generate_series((sm + 100000) // 10000,
       |                                          (nm - 1 + 100000) // 10000)) AS gy
       |        FROM gxs),
       |cells AS (SELECT gx, gy, pop,
       |           (least(em, (gx + 1) * 15000 - 180000) - greatest(wm, gx * 15000 - 180000)) *
       |           (least(nm, (gy + 1) * 10000 - 100000) - greatest(sm, gy * 10000 - 100000)) AS ia,
       |           (em - wm) * (nm - sm) AS sa
       |          FROM gxy)
       |SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_src,
       |       CAST(sum((pop * ia * 1000000000) // sa) AS BIGINT) AS pop_q
       |FROM cells GROUP BY 1, 2""".stripMargin
  }

  // =================================================================
  // Hexagonal binning (the H3-style complement to the square tile
  // grid): pointy-top axial hex assignment via the standard fractional
  // cube-coordinate transform + cube rounding (round each of x/y/z,
  // then repair the largest-residual axis so x+y+z = 0 holds). Every
  // stage — transform, round, residuals, repair CASEs — is written
  // token-for-token on both engines over doubles derived from the
  // integer milli lattice; round() is ties-away-from-zero in both.
  // Zero shuffles before the final ≤ dim-sized (hq, hr) map-combined
  // count — the same "encode is free, aggregation is skinny" shape as
  // geohash/quadkey, and the bin id is 2 small BIGINTs, broadcastable
  // as a dimension at any corpus size.
  // =================================================================

  def hexBin(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(evLattice.x.milli(col("event_id")).cast("double").as("xd"),
        evLattice.y.milli(col("event_id")).cast("double").as("yd"))
      .withColumn("q0", expr("(sqrt(3.0) / 3.0 * xd - yd / 3.0) / 9000.0"))
      .withColumn("r0", expr("yd * 2.0 / 3.0 / 9000.0"))
      .withColumn("y0", expr("-q0 - r0"))
      .withColumn("rx", expr("round(q0)"))
      .withColumn("ry", expr("round(y0)"))
      .withColumn("rz", expr("round(r0)"))
      .withColumn("dx", expr("abs(rx - q0)"))
      .withColumn("dy", expr("abs(ry - y0)"))
      .withColumn("dz", expr("abs(rz - r0)"))
      .withColumn("hq", expr(
        "CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT)"))
      .withColumn("hr", expr(
        "CAST(CASE WHEN dx > dy AND dx > dz THEN rz WHEN dy > dz THEN rz " +
          "ELSE -rx - ry END AS BIGINT)"))
      .groupBy(col("hq"), col("hr"))
      .agg(count(lit(1)).as("cnt"))

  /** The hex-assignment CTE chain (pts → … → h(hq, hr)), shared
    * token-for-token by hexBinSql / hexSmoothSql. */
  private def hexCtes: String =
    s"""pts AS (
       |  SELECT CAST(${evLattice.x.milliSql("event_id")} AS DOUBLE) AS xd,
       |         CAST(${evLattice.y.milliSql("event_id")} AS DOUBLE) AS yd
       |  FROM events),
       |a AS (SELECT (sqrt(3.0) / 3.0 * xd - yd / 3.0) / 9000.0 AS q0,
       |             yd * 2.0 / 3.0 / 9000.0 AS r0
       |      FROM pts),
       |b AS (SELECT q0, r0, -q0 - r0 AS y0 FROM a),
       |c AS (SELECT q0, r0, y0, round(q0) AS rx, round(y0) AS ry, round(r0) AS rz
       |      FROM b),
       |d AS (SELECT *, abs(rx - q0) AS dx, abs(ry - y0) AS dy, abs(rz - r0) AS dz
       |      FROM c),
       |h AS (SELECT
       |        CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT) AS hq,
       |        CAST(CASE WHEN dx > dy AND dx > dz THEN rz WHEN dy > dz THEN rz ELSE -rx - ry END AS BIGINT) AS hr
       |      FROM d)""".stripMargin

  def hexBinSql: String =
    s"""WITH $hexCtes
       |SELECT hq, hr, CAST(count(*) AS BIGINT) AS cnt
       |FROM h GROUP BY 1, 2""".stripMargin

  // =================================================================
  // Hex k-ring smoothing (the cell_smooth pass on the hexagonal grid):
  // each occupied hex sums its own and its 6 axial neighbors' counts —
  // the scatter direction set {(1,0),(1,−1),(0,−1),(−1,0),(−1,1),
  // (0,1),(0,0)} is the hex analogue of the 3×3 box. Fixed 7-probe
  // integer fanout off the hex_bin counts, one (hq,hr) map-combined
  // aggregation + one hex join; wn counts occupied neighbors so sparse
  // frontiers normalize correctly downstream.
  // =================================================================

  def hexSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = hexBin(spark, sfDir).persist() // scatter + final join
    val contrib = counts
      .withColumn("d", explode(expr(
        "array(named_struct('dq', 1, 'dr', 0), named_struct('dq', 1, 'dr', -1), " +
          "named_struct('dq', 0, 'dr', -1), named_struct('dq', -1, 'dr', 0), " +
          "named_struct('dq', -1, 'dr', 1), named_struct('dq', 0, 'dr', 1), " +
          "named_struct('dq', 0, 'dr', 0))")))
      .select((col("hq") + col("d.dq")).as("hq"), (col("hr") + col("d.dr")).as("hr"),
        col("cnt"))
      .groupBy(col("hq"), col("hr"))
      .agg(sum(col("cnt")).as("sm"), count(lit(1)).as("wn"))
    counts.join(contrib, Seq("hq", "hr"))
      .select(col("hq"), col("hr"), col("cnt"), col("sm"), col("wn"))
  }

  def hexSmoothSql: String =
    s"""WITH $hexCtes,
       |counts AS MATERIALIZED (
       |  SELECT hq, hr, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2),
       |contrib AS (
       |  SELECT counts.hq + d.dq AS hq, counts.hr + d.dr AS hr,
       |         CAST(sum(cnt) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS wn
       |  FROM counts,
       |       (VALUES (1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1), (0, 0))
       |         d(dq, dr)
       |  GROUP BY 1, 2)
       |SELECT counts.hq, counts.hr, counts.cnt, contrib.sm, contrib.wn
       |FROM counts JOIN contrib ON counts.hq = contrib.hq AND counts.hr = contrib.hr""".stripMargin

  // =================================================================
  // Time-decayed heat per cell (the "recency heatmap" of monitoring
  // dashboards): each event contributes exp(−age/τ), τ = 5 days,
  // age measured from the corpus max timestamp (1-row broadcast). The
  // lmPerplexity discipline for transcendental sums: every per-event
  // term is quantized to an INTEGER nano-weight (round(·1e9) of a
  // token-identical double) BEFORE the per-cell sum, so aggregation
  // order can never shift the result. One map-combined cell exchange.
  // =================================================================

  def decayHeat(spark: SparkSession, sfDir: String): DataFrame = {
    val base = events(spark, sfDir)
      .select(col("event_id"), col("us"),
        evLon(col("event_id")).as("elon"), evLat(col("event_id")).as("elat"))
    val mx = base.agg(max(col("us")).as("mx"))
    base.crossJoin(broadcast(mx))
      .select(F.cellAt(lit(6), col("elon"), col("elat")).as("cell"),
        expr("CAST(round(exp(-(CAST(mx - us AS DOUBLE) / 432000000000.0)) * 1000000000.0, 0) AS BIGINT)")
          .as("wq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("wq")).as("heat_q"))
  }

  def decayHeatSql: String =
    s"""WITH pts AS (SELECT event_id, $evUsSql AS us,
       |               $evLonSql AS elon, $evLatSql AS elat FROM events),
       |mxs AS (SELECT max(us) AS mx FROM pts),
       |w AS (SELECT ${cellSql(6, "elon", "elat")} AS cell,
       |        CAST(round(exp(-(CAST(mx - us AS DOUBLE) / 432000000000.0)) * 1000000000.0, 0) AS BIGINT) AS wq
       |      FROM pts CROSS JOIN mxs)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n, CAST(sum(wq) AS BIGINT) AS heat_q
       |FROM w GROUP BY 1""".stripMargin

  // =================================================================
  // Implied-speed outlier flagging (the "teleport filter" of GPS/track
  // cleaning): every consecutive fix pair per user gets its squared
  // planar displacement over squared gap compared to a speed ceiling.
  // The dt = 0 tie is decided by EXACT integer logic (moved at all ⇒
  // teleport) so no NaN ever reaches a predicate — engines disagree on
  // NaN comparison semantics; the dt > 0 branch is one double division
  // of exact integers, token-identical both sides. One user-keyed
  // window exchange, quadratic id scatter (linear lattice steps are
  // arithmetic-chain degenerate).
  // =================================================================

  def speedFilter(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        scatter.x.milli(col("event_id")).as("x"), scatter.y.milli(col("event_id")).as("y"))
      .withColumn("px", lag(col("x"), 1).over(fixOrder))
      .withColumn("py", lag(col("y"), 1).over(fixOrder))
      .withColumn("pus", lag(col("us"), 1).over(fixOrder))
      .filter(col("pus").isNotNull)
      .withColumn("d2", expr("(x - px) * (x - px) + (y - py) * (y - py)"))
      .withColumn("dt", col("us") - col("pus"))
      .withColumn("teleport", expr(
        "CASE WHEN dt = 0 THEN d2 > 0 " +
          "ELSE CAST(d2 AS DOUBLE) / (CAST(dt AS DOUBLE) * CAST(dt AS DOUBLE)) > 1e-9 END"))
      .select(col("user_id"), col("event_id"), col("d2"), col("dt"), col("teleport"))
  }

  def speedFilterSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         ${scatter.x.milliSql("event_id")} AS x,
       |         ${scatter.y.milliSql("event_id")} AS y
       |  FROM events),
       |sq AS (
       |  SELECT user_id, event_id, us, x, y,
       |         lag(x, 1) OVER w AS px, lag(y, 1) OVER w AS py,
       |         lag(us, 1) OVER w AS pus
       |  FROM ev WINDOW w AS ($fixOrderSql)),
       |p AS (
       |  SELECT user_id, event_id,
       |         (x - px) * (x - px) + (y - py) * (y - py) AS d2,
       |         us - pus AS dt
       |  FROM sq WHERE pus IS NOT NULL)
       |SELECT user_id, event_id, d2, dt,
       |       CASE WHEN dt = 0 THEN d2 > 0
       |            ELSE CAST(d2 AS DOUBLE) / (CAST(dt AS DOUBLE) * CAST(dt AS DOUBLE)) > 1e-9 END AS teleport
       |FROM p""".stripMargin

  // =================================================================
  // D10: nearest-segment snap join (map matching): every event point
  // snaps to its nearest road segment within R = 2000 milli-degrees, or
  // drops out. Blocking: road side explodes to the z6 cover of its bbox
  // (padded 1 milli — the /1000.0 degree bbox is within ulps of the
  // lattice, the pad keeps boundary-touching cells in the cover), probe
  // side to a LAT-ADAPTIVE cell ring: columns are uniform in lon
  // (5.625° ≥ R ⇒ ±1 suffices) but mercator rows SHRINK with |lat|
  // (cos φ · 2.8125° ≈ 0.98° at the 80° synth extreme — a fixed 3×3
  // ring provably under-covers there, and did: 12 lost pairs at sf0.1,
  // all |lat| > 78°). The row span is derived from the tile map itself:
  // rows(lat + R + 1 milli slack) .. rows(lat − R − slack) — mercator y
  // is monotone in lat, so every point q with |q−p| ≤ R lands inside,
  // and the slack absorbs the /1000.0 ulp fuzz. For every pair with
  // d(p, seg) ≤ R the nearest point q then lies in p's ring AND in the
  // segment's bbox cover. All candidate math is exact: integer
  // milli-lattice gates, clamped-endpoint distances as BIGINT squares,
  // and the interior case as cross²/len2 with ONE double division (both
  // engines IEEE-round the identical operands — cross² ≤ 2.3e15 < 2^53
  // under the R-gate, so even the cast is exact). The ranking key d2
  // stays an unrounded double with a seg_id tiebreak (repo invariant);
  // the OUTPUT is the exact rational (d2n, d2d) — no double ever crosses
  // the compare. A pair meeting in several cells duplicates rows with
  // identical (d2, seg_id): row_number keeps one, content-identical —
  // no dedup exchange. Scale: 3 exchanges (two cell-keyed cover sides,
  // one event-keyed window), text-free payloads, shuffle_hash pinned —
  // a real road network (~10^8 edges) must never broadcast.
  // =================================================================

  private val SnapR = 2000L // milli-degrees

  /** R-gated candidate (point, segment) pairs with exact rational squared
    * distance — the cell blocking + in-row verify core shared by
    * [[snapPoints]] (top-1) and [[viterbiMatch]] (top-C states). `pts0`
    * must carry (event_id, px, py); every column of it passes through. A
    * (point, segment) pair can surface once per shared block cell —
    * top-1 consumers are unaffected, top-k consumers dedupe on the pair
    * key first. */
  private def snapCands(spark: SparkSession, pts0: DataFrame): DataFrame = {
    val roads = roadSegs(spark)
      .withColumn("cell", explode(F.tileCover(F.rectWkb(
        (least(col("ax"), col("bx")) - 1) / 1000.0,
        (least(col("ay"), col("by")) - 1) / 1000.0,
        (greatest(col("ax"), col("bx")) + 1) / 1000.0,
        (greatest(col("ay"), col("by")) + 1) / 1000.0), lit(JoinZ))))
    // R + 1 milli of slack over the lat excursion, in degrees (exactly
    // representable enough: the slack dominates the double fuzz by 10^10)
    val rDeg = (SnapR + 1) / 1000.0
    val keep = pts0.columns.map(col)
    val pts = pts0
      .withColumn("c0", F.cellAt(lit(JoinZ), evLon(col("event_id")), evLat(col("event_id"))))
      // mercator row span of the R-excursion (y grows as lat falls)
      .withColumn("yTop",
        cellY(F.cellAt(lit(JoinZ), evLon(col("event_id")), evLat(col("event_id")) + lit(rDeg))))
      .withColumn("yBot",
        cellY(F.cellAt(lit(JoinZ), evLon(col("event_id")), evLat(col("event_id")) - lit(rDeg))))
      .withColumn("dxv", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("yv", explode(sequence(col("yTop"), col("yBot"))))
      .withColumn("xv", cellX(col("c0")) + col("dxv"))
      // column index stays on the 64-wide grid (nothing spans ±180°)
      .filter(col("xv") >= 0 && col("xv") < 64)
      .select(keep :+ cellPack(lit(JoinZ), col("xv"), col("yv")).as("cell"): _*)
    val dx = col("bx") - col("ax")
    val dy = col("by") - col("ay")
    val apx = col("px") - col("ax")
    val apy = col("py") - col("ay")
    val bpx = col("px") - col("bx")
    val bpy = col("py") - col("by")
    val dot = dx * apx + dy * apy
    val len2 = dx * dx + dy * dy
    val crs = dx * apy - dy * apx
    pts.join(roads.hint("shuffle_hash"), Seq("cell"))
      .filter(col("px") >= least(col("ax"), col("bx")) - lit(SnapR) &&
        col("px") <= greatest(col("ax"), col("bx")) + lit(SnapR) &&
        col("py") >= least(col("ay"), col("by")) - lit(SnapR) &&
        col("py") <= greatest(col("ay"), col("by")) + lit(SnapR))
      // dot ≤ 0 also catches zero-length segments (len2 = 0 ⇒ dot = 0)
      .withColumn("d2",
        when(dot <= 0, (apx * apx + apy * apy).cast("double"))
          .when(dot >= len2, (bpx * bpx + bpy * bpy).cast("double"))
          .otherwise((crs * crs).cast("double") / len2.cast("double")))
      .withColumn("d2n",
        when(dot <= 0, apx * apx + apy * apy)
          .when(dot >= len2, bpx * bpx + bpy * bpy)
          .otherwise(crs * crs))
      .withColumn("d2d",
        when(dot <= 0 || dot >= len2, lit(1L)).otherwise(len2))
      .filter(col("d2") <= lit((SnapR * SnapR).toDouble))
  }

  def snapPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = events(spark, sfDir)
      .select(col("event_id"),
        evLattice.x.milli(col("event_id")).as("px"),
        evLattice.y.milli(col("event_id")).as("py"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("d2").asc, col("seg_id").asc)
    snapCands(spark, pts)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("seg_id"), col("d2n"), col("d2d"))
  }

  // =================================================================
  // OLAP rollup: multi-granularity aggregates over (event_type, z4
  // cell) in ONE pass — Spark's rollup and DuckDB's GROUP BY ROLLUP
  // both emit the partial-aggregation lattice from a single scan (the
  // expand-then-aggregate plan). NULL group keys are coalesced to
  // sentinels and the grouping level derived from nullness on BOTH
  // sides (no reliance on engine-specific grouping_id bit order). The
  // measure is int-quantized value cents so every total is an exact
  // BIGINT at any aggregation order.
  // =================================================================

  def eventRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("event_type"), col("event_id"), col("value"))
      .withColumn("cell", F.cellAt(lit(4), evLon(col("event_id")), evLat(col("event_id"))))
      .withColumn("vq", round(col("value") * lit(100.0), 0).cast("long"))
    ev.rollup(col("event_type"), col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("sum_vq"))
      .select(
        (when(col("event_type").isNull, 1L).otherwise(0L) +
          when(col("cell").isNull, 1L).otherwise(0L)).as("lvl"),
        coalesce(col("event_type"), lit("ALL")).as("etype"),
        coalesce(col("cell"), lit(-1L)).as("cell"),
        col("n"), col("sum_vq"))
  }

  def eventRollupSql: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |         ${cellSql(4, evLonSql, evLatSql)} AS cell,
       |         CAST(round(value * 100.0, 0) AS BIGINT) AS vq
       |  FROM events),
       |r AS (
       |  SELECT event_type, cell, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(vq) AS BIGINT) AS sum_vq
       |  FROM ev GROUP BY ROLLUP(event_type, cell))
       |SELECT CAST(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END +
       |            CASE WHEN cell IS NULL THEN 1 ELSE 0 END AS BIGINT) AS lvl,
       |       COALESCE(event_type, 'ALL') AS etype,
       |       COALESCE(cell, -1) AS cell, n, sum_vq
       |FROM r""".stripMargin

  // =================================================================
  // Geodesic measures per feature rect: spherical area by the exact
  // lat-lon-rect formula A = R²·Δλ·(sin φn − sin φs) and perimeter as
  // two meridian arcs + two parallel arcs — the planar shoelace
  // (poly_centroid) mis-measures by cos-latitude; this is the measure a
  // geographic engine must report. Pure per-row trig on the exact
  // bound doubles, token-identical both engines, outputs rounded.
  // =================================================================

  def geodesicArea(spark: SparkSession, sfDir: String): DataFrame = {
    val R = lit(6371.0088)
    val rad = lit(Math.PI) / lit(180.0)
    val dLam = (col("east") - col("west")) * rad
    val area = R * R * dLam *
      (sin(col("north") * rad) - sin(col("south") * rad))
    val dPhi = (col("north") - col("south")) * rad
    val perim = lit(2.0) * R * dPhi +
      R * cos(col("north") * rad) * dLam + R * cos(col("south") * rad) * dLam
    custFeatures(spark, sfDir)
      .select(col("feature_id"),
        round(area, 4).as("area_km2"), round(perim, 4).as("perim_km"))
  }

  def geodesicAreaSql: String = {
    // constants widened to DOUBLE: DuckDB's exact-DECIMAL literals would
    // square 6371.0088 exactly where the JVM rounds the double product
    val er = "CAST(6371.0088 AS DOUBLE)"
    val rad = "pi() / 180.0"
    val dLam = s"(east - west) * ($rad)"
    s"""WITH cf AS (${custFeaturesSql})
       |SELECT feature_id,
       |       round($er * $er * $dLam *
       |             (sin(north * ($rad)) - sin(south * ($rad))), 4) AS area_km2,
       |       round(CAST(2.0 AS DOUBLE) * $er * ((north - south) * ($rad)) +
       |             $er * cos(north * ($rad)) * $dLam +
       |             $er * cos(south * ($rad)) * $dLam, 4) AS perim_km
       |FROM cf""".stripMargin
  }

  // =================================================================
  // Dwell time per z6 cell: each fix's time-to-next-fix (per-user lag
  // window) is attributed to the cell the user was in — the mobility
  // aggregate behind "where do users spend time". Integer microseconds
  // end-to-end (the trip_segments ts discipline); one user-keyed window
  // exchange + one map-combined cell groupBy.
  // =================================================================

  def cellDwell(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"))
      .withColumn("cell", F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))))
      .withColumn("dwell_us", lead(col("us"), 1).over(fixOrder) - col("us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_stays"), sum(col("dwell_us")).as("dwell_us"),
        max(col("dwell_us")).as("max_stay_us"))
  }

  def cellDwellSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         $evLonSql AS elon, $evLatSql AS elat
       |  FROM events),
       |fx AS (
       |  SELECT ${cellSql(6, "elon", "elat")} AS cell,
       |         lead(us, 1) OVER ($fixOrderSql) - us AS dwell_us
       |  FROM ev)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_stays,
       |       CAST(sum(dwell_us) AS BIGINT) AS dwell_us,
       |       max(dwell_us) AS max_stay_us
       |FROM fx WHERE dwell_us IS NOT NULL
       |GROUP BY 1""".stripMargin

  // =================================================================
  // Adaptive quadtree tiling: split every cell whose event count
  // exceeds the cap, from z4 down to z8 — the occupancy-adaptive
  // partitioner (str_pack's complement: STR packs a feature dim, this
  // splits by PROBE density). Counts are monotone up the tree (parent =
  // Σ children), so a cell is a leaf iff its count ≤ cap and its
  // parent's count > cap (ancestors are then > cap automatically);
  // z8 cells still over the cap are forced leaves. ONE corpus-sized
  // pass builds the z8 base; every coarser level re-aggregates the
  // previous level (the tile_pyramid discipline), and the leaf rule is
  // a per-level join of adjacent count frames — all exact integers.
  // =================================================================

  private val QtCap = 500L

  def quadTree(spark: SparkSession, sfDir: String): DataFrame = {
    val base = eventPoints(spark, sfDir)
      .select(F.cellAt(lit(8), col("elon"), col("elat")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .persist() // consumed by the rollup chain and the z8 leaf rule
    // rollup chain z8 -> z4 (each level from the previous, never the corpus)
    val levels = (7 to 4 by -1).scanLeft(base) { (child, z) =>
      child.select(F.parentCell(col("cell"), lit(z)).as("cell"), col("cnt"))
        .groupBy("cell").agg(sum(col("cnt")).as("cnt"))
        .persist()
    } // levels(0)=z8 ... levels(4)=z4
    val byZ = (8 to 4 by -1).zip(levels).toMap
    val leaves = (5 to 8).map { z =>
      val self = byZ(z).filter(col("cnt") <= QtCap)
      val hotParents = byZ(z - 1).filter(col("cnt") > QtCap)
        .select(col("cell").as("pc"))
      self.withColumn("pc", F.parentCell(col("cell"), lit(z - 1)))
        .join(hotParents.hint("shuffle_hash"), Seq("pc"))
        .select(col("cell"), col("cnt"), lit(0L).as("forced"))
    } ++ Seq(
      byZ(4).filter(col("cnt") <= QtCap)
        .select(col("cell"), col("cnt"), lit(0L).as("forced")),
      byZ(8).filter(col("cnt") > QtCap)
        .select(col("cell"), col("cnt"), lit(1L).as("forced")))
    leaves.reduce(_ unionByName _)
      .withColumn("z", cellZ(col("cell")))
      .select(col("z"), col("cell"), col("cnt"), col("forced"))
  }

  def quadTreeSql: String = {
    val lvls = (7 to 4 by -1).map { z =>
      s"c$z AS MATERIALIZED (SELECT ${parentCellSql("cell", z + 1, z.toString)} AS cell, CAST(sum(cnt) AS BIGINT) AS cnt FROM c${z + 1} GROUP BY 1)"
    }.mkString(",\n")
    val leafLvls = (5 to 8).map { z =>
      s"""SELECT s.cell, s.cnt, 0 AS forced
         |FROM c$z s JOIN c${z - 1} p ON ${parentCellSql("s.cell", z, (z - 1).toString)} = p.cell
         |WHERE s.cnt <= $QtCap AND p.cnt > $QtCap""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pts AS (${eventPointsSql}),
       |c8 AS MATERIALIZED (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT ${cellSql(8, "elon", "elat")} AS cell FROM pts)
       |  GROUP BY 1),
       |$lvls,
       |leaves AS (
       |$leafLvls
       |UNION ALL
       |SELECT cell, cnt, 0 AS forced FROM c4 WHERE cnt <= $QtCap
       |UNION ALL
       |SELECT cell, cnt, 1 AS forced FROM c8 WHERE cnt > $QtCap)
       |SELECT ${cellZSql("cell")} AS z, cell,
       |       cnt, CAST(forced AS BIGINT) AS forced
       |FROM leaves""".stripMargin
  }

  // =================================================================
  // Street-orientation histogram + entropy per district (the Boeing '19
  // "urban street network orientation" analysis): segment bearings fall
  // into 8 bins (atan2 of exact integer deltas — identical doubles both
  // engines; the +π edge wraps via %8), weighted by quantized segment
  // length. The entropy sum is 8 doubles — order-dependent in the last
  // ulps — so each p·ln(p) term is int-quantized to 1e-9 BEFORE the
  // sum (the lmPerplexity discipline) and only the final scale-back
  // divides. District = z3 cell of the segment midpoint-sum (integer).
  // =================================================================

  def bearingHist(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = roadSegs(spark)
      .withColumn("dx", col("bx") - col("ax"))
      .withColumn("dy", col("by") - col("ay"))
      .filter(col("dx") =!= 0 || col("dy") =!= 0)
      .withColumn("district", F.cellAt(lit(3),
        ((col("ax") + col("bx")).cast("double") / lit(2000.0)),
        ((col("ay") + col("by")).cast("double") / lit(2000.0))))
      .withColumn("bin", floor(
        (atan2(col("dy").cast("double"), col("dx").cast("double")) + lit(Math.PI)) /
          (lit(2.0) * lit(Math.PI)) * lit(8.0)).cast("long") % lit(8L))
      .withColumn("lq", round(
        sqrt((col("dx") * col("dx") + col("dy") * col("dy")).cast("double")) * lit(1000.0), 0)
        .cast("long"))
    val hist = segs.groupBy(col("district"), col("bin"))
      .agg(sum(col("lq")).as("wq"), count(lit(1)).as("n_segs"))
    val wd = Window.partitionBy("district")
    hist
      .withColumn("tot", sum(col("wq")).over(wd))
      .withColumn("termq", round(
        (col("wq").cast("double") / col("tot").cast("double")) *
          log(col("wq").cast("double") / col("tot").cast("double")) * lit(1.0e9), 0)
        .cast("long"))
      .withColumn("entq", -sum(col("termq")).over(wd))
      .select(col("district"), col("bin"), col("n_segs"), col("wq"),
        round(col("entq").cast("double") / lit(1.0e9), 6).as("ent_r"))
  }

  def bearingHistSql: String =
    s"""WITH segs AS (${roadSegsSql}),
       |d AS (
       |  SELECT seg_id, bx - ax AS dx, by - ay AS dy,
       |         ${cellSql(3, "CAST(ax + bx AS DOUBLE) / 2000.0", "CAST(ay + by AS DOUBLE) / 2000.0")} AS district
       |  FROM segs WHERE bx - ax <> 0 OR by - ay <> 0),
       |b AS (
       |  SELECT district,
       |         CAST(floor((atan2(CAST(dy AS DOUBLE), CAST(dx AS DOUBLE)) + pi()) /
       |                    (2.0 * pi()) * 8.0) AS BIGINT) % 8 AS bin,
       |         CAST(round(sqrt(CAST(dx * dx + dy * dy AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS lq
       |  FROM d),
       |hist AS (
       |  SELECT district, bin, CAST(sum(lq) AS BIGINT) AS wq,
       |         CAST(count(*) AS BIGINT) AS n_segs
       |  FROM b GROUP BY 1, 2),
       |tq AS (
       |  SELECT *, CAST(sum(wq) OVER (PARTITION BY district) AS BIGINT) AS tot
       |  FROM hist),
       |terms AS (
       |  SELECT *, CAST(round((CAST(wq AS DOUBLE) / CAST(tot AS DOUBLE)) *
       |                 ln(CAST(wq AS DOUBLE) / CAST(tot AS DOUBLE)) * 1.0e9, 0) AS BIGINT) AS termq
       |  FROM tq)
       |SELECT district, bin, n_segs, wq,
       |       round(CAST(-CAST(sum(termq) OVER (PARTITION BY district) AS BIGINT) AS DOUBLE) / 1.0e9, 6) AS ent_r
       |FROM terms""".stripMargin

  // =================================================================
  // Overlay analysis (clip length): total road-segment length inside
  // each zone rectangle — the Liang–Barsky parametric clip evaluated
  // in-row on cell-blocked (segment, zone) pairs. The accept set and
  // the clip parameters are decided by IDENTICAL double arithmetic on
  // both engines (divisions of the same exact integers, token-for-token
  // greatest/least chains); per-pair clipped lengths are quantized to
  // integers BEFORE the per-zone sum so aggregation order cannot leak
  // double noise (the page_geotag discipline). Blocking: both sides
  // tile-cover at z4, pair-distinct — pairs are bbox-gated so the
  // distinct frame is output-sized, never |segs|×|zones|.
  // =================================================================

  def clipLength(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 4
    val segs = roadSegs(spark)
      .withColumn("cell", explode(F.tileCover(F.rectWkb(
        least(col("ax"), col("bx")) / 1000.0, least(col("ay"), col("by")) / 1000.0,
        greatest(col("ax"), col("bx")) / 1000.0, greatest(col("ay"), col("by")) / 1000.0),
        lit(z))))
    val zones = custFeatures(spark, sfDir)
      .select(col("feature_id"),
        qMilli(col("west")).as("w"), qMilli(col("south")).as("s"),
        qMilli(col("east")).as("e"), qMilli(col("north")).as("n"))
      .withColumn("cell", explode(F.tileCover(F.rectWkb(
        col("w") / 1000.0, col("s") / 1000.0, col("e") / 1000.0, col("n") / 1000.0), lit(z))))
    val pairs = segs.join(zones.hint("shuffle_hash"), Seq("cell"))
      .filter(least(col("ax"), col("bx")) <= col("e") &&
        greatest(col("ax"), col("bx")) >= col("w") &&
        least(col("ay"), col("by")) <= col("n") &&
        greatest(col("ay"), col("by")) >= col("s"))
      .dropDuplicates("seg_id", "feature_id")
    val dx = col("bx") - col("ax"); val dy = col("by") - col("ay")
    def frac(q: Column, p: Column) = q.cast("double") / p.cast("double")
    val t0 = greatest(lit(0.0),
      when(-dx < 0, frac(col("ax") - col("w"), -dx)).otherwise(lit(0.0)),
      when(dx < 0, frac(col("e") - col("ax"), dx)).otherwise(lit(0.0)),
      when(-dy < 0, frac(col("ay") - col("s"), -dy)).otherwise(lit(0.0)),
      when(dy < 0, frac(col("n") - col("ay"), dy)).otherwise(lit(0.0)))
    val t1 = least(lit(1.0),
      when(-dx > 0, frac(col("ax") - col("w"), -dx)).otherwise(lit(1.0)),
      when(dx > 0, frac(col("e") - col("ax"), dx)).otherwise(lit(1.0)),
      when(-dy > 0, frac(col("ay") - col("s"), -dy)).otherwise(lit(1.0)),
      when(dy > 0, frac(col("n") - col("ay"), dy)).otherwise(lit(1.0)))
    val reject =
      (dx === 0 && (col("ax") - col("w") < 0 || col("e") - col("ax") < 0)) ||
        (dy === 0 && (col("ay") - col("s") < 0 || col("n") - col("ay") < 0))
    pairs
      .withColumn("tt0", t0).withColumn("tt1", t1)
      .filter(!reject && col("tt0") < col("tt1"))
      .withColumn("lq", round((col("tt1") - col("tt0")) *
        sqrt((dx * dx + dy * dy).cast("double")) * lit(1000.0), 0).cast("long"))
      .groupBy(col("feature_id"))
      .agg(count(lit(1)).as("n_segs"), sum(col("lq")).as("len_q"))
  }

  def clipLengthSql: String = {
    def fr(q: String, p: String) = s"CAST($q AS DOUBLE) / CAST($p AS DOUBLE)"
    s"""WITH segs AS (${roadSegsSql}),
       |cf AS (${custFeaturesSql}),
       |zones AS (
       |  SELECT feature_id,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS w,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS s,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS e,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS n
       |  FROM cf),
       |pairs AS (
       |  SELECT g.seg_id, g.ax, g.ay, g.bx, g.by, z.feature_id, z.w, z.s, z.e, z.n,
       |         g.bx - g.ax AS dx, g.by - g.ay AS dy
       |  FROM segs g JOIN zones z
       |    ON least(g.ax, g.bx) <= z.e AND greatest(g.ax, g.bx) >= z.w
       |   AND least(g.ay, g.by) <= z.n AND greatest(g.ay, g.by) >= z.s),
       |clip AS (
       |  SELECT *,
       |    greatest(0.0,
       |      CASE WHEN -dx < 0 THEN ${fr("ax - w", "-dx")} ELSE 0.0 END,
       |      CASE WHEN dx < 0 THEN ${fr("e - ax", "dx")} ELSE 0.0 END,
       |      CASE WHEN -dy < 0 THEN ${fr("ay - s", "-dy")} ELSE 0.0 END,
       |      CASE WHEN dy < 0 THEN ${fr("n - ay", "dy")} ELSE 0.0 END) AS tt0,
       |    least(1.0,
       |      CASE WHEN -dx > 0 THEN ${fr("ax - w", "-dx")} ELSE 1.0 END,
       |      CASE WHEN dx > 0 THEN ${fr("e - ax", "dx")} ELSE 1.0 END,
       |      CASE WHEN -dy > 0 THEN ${fr("ay - s", "-dy")} ELSE 1.0 END,
       |      CASE WHEN dy > 0 THEN ${fr("n - ay", "dy")} ELSE 1.0 END) AS tt1
       |  FROM pairs
       |  WHERE NOT ((dx = 0 AND (ax - w < 0 OR e - ax < 0))
       |          OR (dy = 0 AND (ay - s < 0 OR n - ay < 0))))
       |SELECT feature_id, CAST(count(*) AS BIGINT) AS n_segs,
       |       CAST(sum(CAST(round((tt1 - tt0) *
       |            sqrt(CAST(dx * dx + dy * dy AS DOUBLE)) * 1000.0, 0) AS BIGINT)) AS BIGINT) AS len_q
       |FROM clip
       |WHERE tt0 < tt1
       |GROUP BY 1""".stripMargin
  }

  // =================================================================
  // HMM map matching (Viterbi decode, the Newson–Krakauer shape): per
  // user, the first 8 fixes in (ts, event_id) order each get their
  // top-3 candidate road segments (the snapCands blocking, R-gated);
  // the decoded route minimizes Σ emission + Σ transition, where the
  // emission is the floor-quantized squared snap distance (d2n div d2d
  // — exact integer, deterministic both engines) and the transition is
  // the Manhattan distance between candidate segment midpoint-sums.
  // Fixes with NO candidate in range are skipped (steps densely
  // renumbered per user), so partial coverage degrades gracefully.
  // The DP runs as 7 unrolled rounds of a (user-keyed join + per-state
  // argmin window) — states are ≤3 rows per user per round, the round
  // frames localCheckpoint (lineage discipline), and predecessor ties
  // break on seg_id so the decode is total-order determined. The
  // oracle replays the DP as a step recursion whose per-state argmin
  // is a row_number window inside the recursive term.
  // =================================================================

  private val VitT = 8 // fixes per track
  private val VitC = 3 // candidate states per fix

  def viterbiMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val fixes = events(spark, sfDir).select(col("event_id"), col("user_id"), col("us"))
      .withColumn("t", row_number().over(fixOrder)).filter(col("t") <= VitT)
      .select(col("user_id"), col("t"), col("event_id"),
        evLattice.x.milli(col("event_id")).as("px"),
        evLattice.y.milli(col("event_id")).as("py"))
    val top = snapCands(spark, fixes)
      .select(col("user_id"), col("t"), col("seg_id"), col("d2"), col("d2n"), col("d2d"),
        (col("ax") + col("bx")).as("mx"), (col("ay") + col("by")).as("my"))
      .dropDuplicates("user_id", "t", "seg_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "t").orderBy(col("d2").asc, col("seg_id").asc)))
      .filter(col("rn") <= VitC)
      .withColumn("emit", expr("d2n div d2d"))
      .withColumn("step", dense_rank().over(
        Window.partitionBy("user_id").orderBy(col("t").asc)))
      .select(col("user_id"), col("step"), col("seg_id"), col("emit"),
        col("mx"), col("my"))
      .persist() // consumed once per DP round + the maxstep dim
    val maxstep = top.groupBy("user_id").agg(max(col("step")).as("ms"))
    var state = top.filter(col("step") === 1)
      .select(col("user_id"), lit(1).as("step"), col("seg_id").as("seg"),
        col("emit").as("cost"), array(col("seg_id")).as("path"),
        col("mx"), col("my"))
    var finals = List.empty[DataFrame]
    for (k <- 2 to VitT) {
      val ck = top.filter(col("step") === k)
        .select(col("user_id"), col("seg_id").as("nseg"), col("emit"),
          col("mx").as("nmx"), col("my").as("nmy"))
      val trans = abs(col("nmx") - col("mx")) + abs(col("nmy") - col("my"))
      val adv = state.join(ck, "user_id")
        .withColumn("ncost", col("cost") + trans + col("emit"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "nseg")
            .orderBy((col("cost") + trans).asc, col("seg").asc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), lit(k).as("step"), col("nseg").as("seg"),
          col("ncost").as("cost"),
          concat(col("path"), array(col("nseg"))).as("path"),
          col("nmx").as("mx"), col("nmy").as("my"))
        .localCheckpoint()
      finals = state.join(broadcast(maxstep.filter(col("ms") === k - 1)), "user_id")
        .drop("ms") :: finals
      state = adv
    }
    finals = state :: finals // survivors have ms == VitT
    val best = finals.reduce(_ unionByName _)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("cost").asc, col("seg").asc)))
      .filter(col("rn") === 1)
    best.select(col("user_id"), col("step").cast("long").as("n_steps"),
      col("cost"), col("seg").as("end_seg"),
      concat_ws("-", expr("transform(path, s -> cast(s as string))")).as("path_s"))
  }

  def viterbiMatchSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us FROM events),
       |fx AS (
       |  SELECT user_id, event_id,
       |         row_number() OVER ($fixOrderSql) AS t,
       |         ${evLattice.x.milliSql("event_id")} AS px,
       |         ${evLattice.y.milliSql("event_id")} AS py
       |  FROM ev
       |  QUALIFY row_number() OVER ($fixOrderSql) <= $VitT),
       |${snapCandsSql("fx", Seq("user_id", "t"), Seq("s.ax + s.bx" -> "mx", "s.ay + s.by" -> "my"))},
       |cand AS (
       |  SELECT user_id, t, seg_id, mx, my, d2n // d2d AS emit
       |  FROM d WHERE d2 <= CAST(${SnapR * SnapR} AS DOUBLE)
       |  QUALIFY row_number() OVER (PARTITION BY user_id, t ORDER BY d2, seg_id) <= $VitC),
       |steps AS MATERIALIZED (
       |  SELECT user_id, dense_rank() OVER (PARTITION BY user_id ORDER BY t) AS step,
       |         seg_id, emit, mx, my
       |  FROM cand),
       |ms AS MATERIALIZED (SELECT user_id, max(step) AS ms FROM steps GROUP BY 1),
       |vt AS (
       |  SELECT user_id, 1 AS step, seg_id AS seg, emit AS cost, [seg_id] AS path, mx, my
       |  FROM steps WHERE step = 1
       |  UNION ALL
       |  SELECT user_id, step, seg, cost, path, mx, my FROM (
       |    SELECT p.user_id AS user_id, c.step AS step, c.seg_id AS seg,
       |           p.cost + abs(c.mx - p.mx) + abs(c.my - p.my) + c.emit AS cost,
       |           list_append(p.path, c.seg_id) AS path, c.mx AS mx, c.my AS my,
       |           row_number() OVER (PARTITION BY p.user_id, c.seg_id
       |                              ORDER BY p.cost + abs(c.mx - p.mx) + abs(c.my - p.my) ASC,
       |                                       p.seg ASC) AS rn
       |    FROM vt p JOIN steps c ON c.user_id = p.user_id AND c.step = p.step + 1
       |  ) WHERE rn = 1),
       |fin AS (
       |  SELECT v.user_id, v.step, v.seg, v.cost, v.path
       |  FROM vt v JOIN ms ON ms.user_id = v.user_id AND v.step = ms.ms)
       |SELECT user_id, CAST(step AS BIGINT) AS n_steps, CAST(cost AS BIGINT) AS cost,
       |       seg AS end_seg, array_to_string(path, '-') AS path_s
       |FROM fin
       |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY cost, seg) = 1""".stripMargin

  /** SQL twin of [[snapCands]]' verify: CTEs `segs`, `m` (the raw θ-join
    * of the CTE `pts` (px, py, `keep`…) with every segment on the
    * R-expanded bbox gate, plus `segCols` (expression over `s`, alias)) and
    * `d` (`keep`…, the `segCols` aliases, seg_id, d2, d2n, d2d) with
    * snapCands' exact distance arithmetic. */
  private def snapCandsSql(pts: String, keep: Seq[String],
                           segCols: Seq[(String, String)] = Nil): String = {
    val mCols = keep.map("p." + _) ++ segCols.map { case (e, a) => s"$e AS $a" } :+ "s.seg_id"
    s"""segs AS MATERIALIZED (${roadSegsSql}),
       |m AS (
       |  SELECT ${mCols.mkString(", ")},
       |         s.bx - s.ax AS dx, s.by - s.ay AS dy,
       |         p.px - s.ax AS apx, p.py - s.ay AS apy,
       |         p.px - s.bx AS bpx, p.py - s.by AS bpy
       |  FROM $pts p JOIN segs s
       |    ON p.px >= least(s.ax, s.bx) - $SnapR AND p.px <= greatest(s.ax, s.bx) + $SnapR
       |   AND p.py >= least(s.ay, s.by) - $SnapR AND p.py <= greatest(s.ay, s.by) + $SnapR),
       |d AS (
       |  SELECT ${(keep ++ segCols.map(_._2) :+ "seg_id").mkString(", ")},
       |         CASE WHEN dx * apx + dy * apy <= 0
       |                THEN CAST(apx * apx + apy * apy AS DOUBLE)
       |              WHEN dx * apx + dy * apy >= dx * dx + dy * dy
       |                THEN CAST(bpx * bpx + bpy * bpy AS DOUBLE)
       |              ELSE CAST((dx * apy - dy * apx) * (dx * apy - dy * apx) AS DOUBLE)
       |                   / CAST(dx * dx + dy * dy AS DOUBLE) END AS d2,
       |         CASE WHEN dx * apx + dy * apy <= 0
       |                THEN apx * apx + apy * apy
       |              WHEN dx * apx + dy * apy >= dx * dx + dy * dy
       |                THEN bpx * bpx + bpy * bpy
       |              ELSE (dx * apy - dy * apx) * (dx * apy - dy * apx) END AS d2n,
       |         CASE WHEN dx * apx + dy * apy <= 0 OR dx * apx + dy * apy >= dx * dx + dy * dy
       |                THEN 1 ELSE dx * dx + dy * dy END AS d2d
       |  FROM m)""".stripMargin
  }

  /** Mirror of [[snapPoints]]: the raw θ-join on the R-expanded bbox gate
    * with token-identical distance arithmetic — the tile blocking never
    * crosses engines, so the compare proves the cover/disk blocking
    * loss-free for the surviving (d ≤ R) pairs. */
  def snapPointsSql: String =
    s"""WITH pts AS (
       |  SELECT event_id,
       |         ${evLattice.x.milliSql("event_id")} AS px,
       |         ${evLattice.y.milliSql("event_id")} AS py
       |  FROM events),
       |${snapCandsSql("pts", Seq("event_id"))}
       |SELECT event_id, seg_id, CAST(d2n AS BIGINT) AS d2n, CAST(d2d AS BIGINT) AS d2d
       |FROM d
       |WHERE d2 <= CAST(${SnapR * SnapR} AS DOUBLE)
       |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY d2, seg_id) = 1""".stripMargin

  // =================================================================
  // Graph centrality over the OD transition graph: 3-round PageRank
  // power iteration (damping 0.85) on the z6 cell graph the od_flows
  // edges induce. Everything is INTEGER: ranks live on a 10^12
  // micro-lattice, each edge's contribution is (rank·flow) div W_out —
  // BIGINT-exact and order-independent under sum (the ann_cosine
  // discipline applied to graph iteration), so the unrolled-CTE oracle
  // replays the training exactly (the embed_kmeans pattern). Dangling
  // mass (cells with no out-edges) leaks — deterministic, documented.
  // Scale: per round ONE edge-keyed join + one map-combined groupBy —
  // textbook distributed PageRank; edges persist across rounds and each
  // round's ranks localCheckpoint (lineage doubles per round otherwise,
  // the repo's iterative-loop invariant).
  // =================================================================

  private val PrScale = 1000000000000L

  def cellPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = odFlows(spark, sfDir).persist()
    val outW = edges.groupBy("o_cell").agg(sum(col("flows")).as("wout"))
    val nodes = edges.select(col("o_cell").as("cell"))
      .union(edges.select(col("d_cell").as("cell"))).distinct().persist()
    val n = nodes.count()
    // edge side carries its out-weight once; persisted — read every round
    val ew = edges.join(outW, "o_cell")
      .select(col("o_cell"), col("d_cell"), col("flows"), col("wout")).persist()
    var ranks = nodes.select(col("cell"), lit(PrScale / n).as("rq")).localCheckpoint()
    for (_ <- 1 to 3) {
      val contrib = ew
        .join(ranks.withColumnRenamed("cell", "o_cell"), "o_cell")
        .select(col("d_cell").as("cell"), expr("(rq * flows) div wout").as("c"))
        .groupBy("cell").agg(sum(col("c")).as("inq"))
      ranks = nodes.join(contrib, Seq("cell"), "left")
        .select(col("cell"),
          (lit((15L * PrScale) / (100L * n)) +
            expr("(85 * coalesce(inq, 0)) div 100")).as("rq"))
        .localCheckpoint()
    }
    ranks
  }

  /** Mirror of [[cellPagerank]]: the 3 power-iteration rounds unrolled as
    * CTEs (each referenced by the next round AND the final select, so
    * every round is MATERIALIZED — DuckDB re-inlines otherwise). */
  def cellPagerankSql: String = {
    val edgeCte =
      s"""${odFlowCtes(loops = true)},
         |outw AS MATERIALIZED (
         |  SELECT o_cell, CAST(sum(flows) AS BIGINT) AS wout FROM edges GROUP BY 1),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT cell FROM (
         |    SELECT o_cell AS cell FROM edges
         |    UNION ALL SELECT d_cell FROM edges)),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT cell, $PrScale // n AS rq FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (
         |  SELECT e.d_cell AS cell, CAST(sum((r.rq * e.flows) // o.wout) AS BIGINT) AS inq
         |  FROM edges e
         |  JOIN outw o ON e.o_cell = o.o_cell
         |  JOIN r${i - 1} r ON r.cell = e.o_cell
         |  GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.cell,
         |         (15 * $PrScale) // (100 * n) + (85 * coalesce(c$i.inq, 0)) // 100 AS rq
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.cell = c$i.cell)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCte,
       |$rounds
       |SELECT cell, rq FROM r3""".stripMargin
  }

  // =================================================================
  // Gravity-model fit over the OD flow matrix (the spatial-interaction
  // regression of transport analytics): least-squares of ln(flows) on
  // ln(d²) across observed non-self OD cell pairs, d² the exact BIGINT
  // squared center distance in z6 cell units. The zipf_fit discipline:
  // both coordinates are 1e6-QUANTIZED integers before any sum, the
  // regression moments accumulate as DECIMAL(38,0)/HUGEINT (exact,
  // order-independent — and sxx overflows BIGINT once observed pairs
  // pass ~10^5, so the widening is load-bearing), and the closed-form
  // slope/intercept stay exact until the final double division+round.
  // Shape: od_flows' one user-keyed exchange + one (o,d) map-combined
  // groupBy + a 1-row moment aggregate. The synthetic scatter has no
  // real distance decay — the op's contract is the exact regression
  // mechanics, not a geographic claim about the fixture.
  // =================================================================

  def gravityFit(spark: SparkSession, sfDir: String): DataFrame = {
    val q = odFlows(spark, sfDir)
      .filter(col("o_cell") =!= col("d_cell"))
      .withColumn("dx", cellX(col("o_cell")) - cellX(col("d_cell")))
      .withColumn("dy", cellY(col("o_cell")) - cellY(col("d_cell")))
      .withColumn("d2", col("dx") * col("dx") + col("dy") * col("dy"))
      .select(
        round(log(col("d2").cast("double")) * lit(1000000.0), 0).cast("long").as("xq"),
        round(log(col("flows").cast("double")) * lit(1000000.0), 0).cast("long").as("yq"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val s = q.agg(count(lit(1)).as("n"),
      sum(d(col("xq"))).as("sx"), sum(d(col("yq"))).as("sy"),
      sum(d(col("xq")) * d(col("yq"))).as("sxy"),
      sum(d(col("xq")) * d(col("xq"))).as("sxx"))
    val den = d(col("n")) * col("sxx") - col("sx") * col("sx")
    s.select(col("n"),
      round((d(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double")
        / den.cast("double"), 4).as("slope"),
      round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
        / den.cast("double") / lit(1000000.0), 4).as("intercept"))
  }

  def gravityFitSql: String =
    s"""WITH ${odFlowCtes(loops = false)},
       |pairs AS (
       |  SELECT ${cellXSql("o_cell")} - ${cellXSql("d_cell")} AS dx,
       |         ${cellYSql("o_cell")} - ${cellYSql("d_cell")} AS dy,
       |         flows
       |  FROM edges),
       |q AS (SELECT
       |        CAST(round(ln(CAST(dx * dx + dy * dy AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS xq,
       |        CAST(round(ln(CAST(flows AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS yq
       |      FROM pairs),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             sum(xq) AS sx, sum(yq) AS sy,
       |             sum(xq * yq) AS sxy, sum(xq * xq) AS sxx
       |      FROM q)
       |SELECT n,
       |       round(CAST(n * sxy - sx * sy AS DOUBLE)
       |             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope,
       |       round(CAST(sy * sxx - sx * sxy AS DOUBLE)
       |             / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000.0, 4) AS intercept
       |FROM s""".stripMargin

  // =================================================================
  // k-hop shortest paths (Bellman–Ford, 4 synchronous rounds) from the
  // deterministic source cell (min o_cell) over the OD graph, edge cost
  // 1 + 1000 div flows (busier transitions are cheaper) — all-integer,
  // so min() relaxation is exact and the oracle unrolls the rounds the
  // same way cell_pagerank's does. Unreached cells simply aren't in the
  // frame (no ∞ sentinel crosses an engine boundary). Scale: per round
  // one edge-keyed join + a map-combined min — the standard distributed
  // BF/BSP round; frontier frames localCheckpoint (iterative-loop rule).
  // =================================================================

  /** Relaxation rounds of [[ssspKhop]] and its SQL twin: distances over
    * paths of at most SsspRounds hops. */
  final val SsspRounds = 4

  def ssspKhop(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = odFlows(spark, sfDir)
      .filter(col("o_cell") =!= col("d_cell"))
      .select(col("o_cell"), col("d_cell"),
        (lit(1L) + expr("1000 div flows")).as("w")).persist()
    // deterministic source: the min cell id — a dim-sized agg (one value)
    val src = edges.agg(min(col("o_cell"))).collect()(0).getLong(0)
    var dist = spark.range(1)
      .select(lit(src).as("cell"), lit(0L).as("d")).localCheckpoint()
    for (_ <- 1 to SsspRounds) {
      val relax = dist.withColumnRenamed("cell", "o_cell")
        .join(edges, "o_cell")
        .select(col("d_cell").as("cell"), (col("d") + col("w")).as("d"))
      dist = dist.union(relax)
        .groupBy("cell").agg(min(col("d")).as("d")).localCheckpoint()
    }
    dist
  }

  def ssspKhopSql: String = {
    val rounds = (1 to SsspRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT cell, min(d) AS d FROM (
         |    SELECT cell, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.d_cell AS cell, p.d + e.w AS d
         |    FROM d${i - 1} p JOIN ew e ON e.o_cell = p.cell)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${odFlowCtes(loops = false)},
       |ew AS MATERIALIZED (
       |  SELECT o_cell, d_cell, 1 + 1000 // flows AS w FROM edges),
       |src AS (SELECT min(o_cell) AS s FROM ew),
       |d0 AS MATERIALIZED (SELECT s AS cell, CAST(0 AS BIGINT) AS d FROM src),
       |$rounds
       |SELECT cell, CAST(d AS BIGINT) AS d FROM d$SsspRounds""".stripMargin
  }

  // =================================================================
  // Triangle counting over the undirected OD graph, DEGREE-ORIENTED
  // (each edge points from its lower-(degree, id) endpoint): out-degrees
  // are bounded by O(√m), so the wedge self-join never explodes on hub
  // cells — the orientation IS the skew handling at 10^12 scale, where
  // a by-id orientation would square the hottest hub's adjacency. Each
  // triangle is counted exactly once, at its unique two-out-edge apex;
  // the closing-edge probe canonicalizes the wedge by id against the
  // (u < v)-keyed undirected set.
  // =================================================================

  def triangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    val und = odFlows(spark, sfDir)
      .filter(col("o_cell") =!= col("d_cell"))
      .select(least(col("o_cell"), col("d_cell")).as("u"),
        greatest(col("o_cell"), col("d_cell")).as("v"))
      .distinct().persist() // three consumers: degrees, orientation, closing probe
    val deg = und.select(col("u").as("c")).union(und.select(col("v").as("c")))
      .groupBy("c").agg(count(lit(1)).as("dg"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val dd = und
      .join(deg.select(col("c").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("c").as("v"), col("dg").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      .persist() // both wedge sides read it
    dd.select(col("a"), col("b").as("x"))
      .join(dd.select(col("a"), col("b").as("y")), "a")
      .filter(col("x") < col("y"))
      .join(und.hint("shuffle_hash"),
        col("x") === col("u") && col("y") === col("v"))
      .agg(count(lit(1)).as("n_tri"))
  }

  def triangleCountSql: String =
    s"""WITH ${odFlowCtes(loops = false)},
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(o_cell, d_cell) AS u, greatest(o_cell, d_cell) AS v
       |  FROM edges),
       |deg AS MATERIALIZED (
       |  SELECT c, CAST(count(*) AS BIGINT) AS dg
       |  FROM (SELECT u AS c FROM und UNION ALL SELECT v AS c FROM und)
       |  GROUP BY 1),
       |dd AS MATERIALIZED (
       |  SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND und.u < und.v)
       |              THEN und.u ELSE und.v END AS a,
       |         CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND und.u < und.v)
       |              THEN und.v ELSE und.u END AS b
       |  FROM und
       |  JOIN deg du ON du.c = und.u
       |  JOIN deg dv ON dv.c = und.v)
       |SELECT CAST(count(*) AS BIGINT) AS n_tri
       |FROM dd w1
       |JOIN dd w2 ON w1.a = w2.a AND w1.b < w2.b
       |JOIN und ON und.u = w1.b AND und.v = w2.b""".stripMargin

  // =================================================================
  // Trajectory polyline simplification (radial-distance): walk each
  // user's time-ordered track, keep a point iff it moves > tol from the
  // LAST KEPT point — the standard pre-pass of Douglas–Peucker pipelines
  // and inherently a sequential fold, so it runs as ONE user-keyed
  // exchange into a per-user array aggregate (per-user state is bounded
  // by track length; at 10^12 events tracks are day-segmented first —
  // the fold shape is unchanged). All comparisons are exact BIGINT
  // squares on the milli lattice; the DuckDB mirror is the identical
  // fold via list_reduce over the identically-ordered list.
  // =================================================================

  private val SimplifyTol = 120000L // milli-degrees: keeps ~47% at sf0.001

  def trajSimplify(spark: SparkSession, sfDir: String): DataFrame = {
    val tol2 = SimplifyTol * SimplifyTol
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        evLattice.x.milli(col("event_id")).as("x"),
        evLattice.y.milli(col("event_id")).as("y"))
      .groupBy(col("user_id"))
      // (us, event_id) is a unique sort prefix, so the lexicographic
      // struct sort equals the oracle's ORDER BY us, event_id
      .agg(sort_array(collect_list(
        struct(col("us"), col("event_id"), col("x"), col("y")))).as("pts"))
      .select(col("user_id"), explode(expr(
        s"""aggregate(slice(pts, 2, size(pts) - 1),
           |  named_struct('lx', pts[0].x, 'ly', pts[0].y, 'ids', array(pts[0].event_id)),
           |  (s, p) -> IF((p.x - s.lx) * (p.x - s.lx) + (p.y - s.ly) * (p.y - s.ly) > ${tol2}L,
           |    named_struct('lx', p.x, 'ly', p.y, 'ids', concat(s.ids, array(p.event_id))),
           |    s)).ids""".stripMargin)).as("event_id"))
  }

  /** Mirror of [[trajSimplify]] as a RECURSIVE-CTE walk over the rn-ordered
    * track (one frontier row per user per step; step count = max track
    * length, ~67 at every SF since users scale with events). NOT a
    * list_reduce fold: DuckDB 1.0.0's list_reduce corrupts struct
    * accumulators — a THEN-after-ELSE(s)-after-THEN chain drops a LIST
    * state field, and with several rows in one vector the accumulator
    * BLEEDS ACROSS ROWS (user 14's kept set absorbed other users' ids).
    * Seen on the fold's first oracle; no standalone repro was kept, and a
    * plain `list_reduce` over `{'lx', 'ly', 'ids'}` structs built by
    * `list(… ORDER BY us, id)` per user is correct on DuckDB 1.0.0 at
    * sf0.01. The recursive walk sidesteps the lambda machinery entirely. */
  def trajSimplifySql: String = {
    val tol2 = SimplifyTol * SimplifyTol
    val far = s"(p.x - w.lx) * (p.x - w.lx) + (p.y - w.ly) * (p.y - w.ly) > $tol2"
    s"""WITH RECURSIVE pts AS (
       |  SELECT user_id, event_id AS id, $evUsSql AS us,
       |         ${evLattice.x.milliSql("event_id")} AS x,
       |         ${evLattice.y.milliSql("event_id")} AS y,
       |         row_number() OVER ($fixOrderSql) AS rn
       |  FROM events),
       |walk AS (
       |  SELECT user_id, rn, x AS lx, y AS ly, id, TRUE AS kept
       |  FROM pts WHERE rn = 1
       |  UNION ALL
       |  SELECT p.user_id, p.rn,
       |         CASE WHEN $far THEN p.x ELSE w.lx END,
       |         CASE WHEN $far THEN p.y ELSE w.ly END,
       |         p.id,
       |         $far
       |  FROM walk w JOIN pts p ON p.user_id = w.user_id AND p.rn = w.rn + 1)
       |SELECT user_id, id AS event_id FROM walk WHERE kept""".stripMargin
  }

  // =================================================================
  // Stay-point detection (Li et al. '08, the anchor-reset fold
  // variant): walk each user's time-ordered track keeping an anchor;
  // while points remain within D of the anchor the candidate stay
  // grows, and the first escape closes it — emitted iff it lasted ≥ T.
  // Like traj_simplify this is inherently a sequential per-user fold:
  // ONE user-keyed exchange into a per-user array aggregate (per-user
  // state bounded by track length; at 10^12 events tracks are
  // day-segmented first). All distance tests are exact BIGINT squares
  // on the milli lattice; centroids are exact integer means (sums
  // shifted to non-negative so Spark div ≡ DuckDB // at the division).
  // Positions use the QUADRATIC id-hash scatter (the dbscan/co_locate
  // rationale — the linear lattice makes consecutive steps
  // arithmetic-chain degenerate). The oracle is a recursive-CTE walk
  // (NOT list_reduce: DuckDB 1.0.0 corrupts struct accumulators —
  // see trajSimplifySql), with the final open candidate closed by a
  // max-rn post-pass.
  // =================================================================

  private val StayD2 = 100000L * 100000L // D = 100k milli (~d25 of steps)
  private val StayTUs = 36000000000L     // T = 10 h (median gap ≈ 7.7 h)

  def stayPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val emptyStays = "slice(array(named_struct('st', CAST(0 AS BIGINT), " +
      "'en', CAST(0 AS BIGINT), 'np', CAST(0 AS BIGINT), " +
      "'cx', CAST(0 AS BIGINT), 'cy', CAST(0 AS BIGINT))), 1, 0)"
    def close(s: String) =
      s"IF($s.lt - $s.at >= ${StayTUs}L, concat($s.stays, array(named_struct(" +
        s"'st', $s.at, 'en', $s.lt, 'np', $s.n, " +
        s"'cx', $s.sx div $s.n - 180000, 'cy', $s.sy div $s.n - 80000))), $s.stays)"
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        scatter.x.milli(col("event_id")).as("x"), scatter.y.milli(col("event_id")).as("y"))
      .groupBy(col("user_id"))
      // (us, event_id) is a unique sort prefix — lexicographic struct
      // sort equals the oracle's ORDER BY us, event_id
      .agg(sort_array(collect_list(
        struct(col("us"), col("event_id"), col("x"), col("y")))).as("pts"))
      .select(col("user_id"), explode(expr(
        s"""aggregate(slice(pts, 2, size(pts) - 1),
           |  named_struct('ax', pts[0].x, 'ay', pts[0].y,
           |    'at', pts[0].us, 'lt', pts[0].us, 'n', CAST(1 AS BIGINT),
           |    'sx', pts[0].x + 180000, 'sy', pts[0].y + 80000,
           |    'stays', $emptyStays),
           |  (s, p) -> IF((p.x - s.ax) * (p.x - s.ax) + (p.y - s.ay) * (p.y - s.ay) <= ${StayD2}L,
           |    named_struct('ax', s.ax, 'ay', s.ay, 'at', s.at, 'lt', p.us,
           |      'n', s.n + 1, 'sx', s.sx + p.x + 180000, 'sy', s.sy + p.y + 80000,
           |      'stays', s.stays),
           |    named_struct('ax', p.x, 'ay', p.y, 'at', p.us, 'lt', p.us,
           |      'n', CAST(1 AS BIGINT), 'sx', p.x + 180000, 'sy', p.y + 80000,
           |      'stays', ${close("s")})),
           |  s -> ${close("s")})""".stripMargin)).as("sp"))
      .select(col("user_id"), col("sp.st").as("start_us"), col("sp.en").as("end_us"),
        col("sp.np").as("n_pts"), col("sp.cx").as("cx"), col("sp.cy").as("cy"))
  }

  def stayPointsSql: String = {
    val within = "(p.x - w.ax) * (p.x - w.ax) + (p.y - w.ay) * (p.y - w.ay) " +
      s"<= $StayD2"
    s"""WITH RECURSIVE pts AS (
       |  SELECT user_id, event_id AS id, $evUsSql AS us,
       |         ${scatter.x.milliSql("event_id")} AS x,
       |         ${scatter.y.milliSql("event_id")} AS y,
       |         row_number() OVER ($fixOrderSql) AS rn
       |  FROM events),
       |nmax AS (SELECT user_id, max(rn) AS mr FROM pts GROUP BY 1),
       |walk AS (
       |  SELECT user_id, rn, x AS ax, y AS ay, us AS at, us AS lt,
       |         CAST(1 AS BIGINT) AS n, x + 180000 AS sx, y + 80000 AS sy,
       |         CAST(NULL AS BIGINT) AS st, CAST(NULL AS BIGINT) AS en,
       |         CAST(NULL AS BIGINT) AS np,
       |         CAST(NULL AS BIGINT) AS ccx, CAST(NULL AS BIGINT) AS ccy
       |  FROM pts WHERE rn = 1
       |  UNION ALL
       |  SELECT p.user_id, p.rn,
       |         CASE WHEN $within THEN w.ax ELSE p.x END,
       |         CASE WHEN $within THEN w.ay ELSE p.y END,
       |         CASE WHEN $within THEN w.at ELSE p.us END,
       |         p.us,
       |         CASE WHEN $within THEN w.n + 1 ELSE CAST(1 AS BIGINT) END,
       |         CASE WHEN $within THEN w.sx + p.x + 180000 ELSE p.x + 180000 END,
       |         CASE WHEN $within THEN w.sy + p.y + 80000 ELSE p.y + 80000 END,
       |         CASE WHEN NOT ($within) AND w.lt - w.at >= $StayTUs THEN w.at END,
       |         CASE WHEN NOT ($within) AND w.lt - w.at >= $StayTUs THEN w.lt END,
       |         CASE WHEN NOT ($within) AND w.lt - w.at >= $StayTUs THEN w.n END,
       |         CASE WHEN NOT ($within) AND w.lt - w.at >= $StayTUs
       |              THEN w.sx // w.n - 180000 END,
       |         CASE WHEN NOT ($within) AND w.lt - w.at >= $StayTUs
       |              THEN w.sy // w.n - 80000 END
       |  FROM walk w JOIN pts p ON p.user_id = w.user_id AND p.rn = w.rn + 1)
       |SELECT user_id, st AS start_us, en AS end_us, np AS n_pts,
       |       ccx AS cx, ccy AS cy
       |FROM walk WHERE st IS NOT NULL
       |UNION ALL
       |SELECT w.user_id, w.at, w.lt, w.n,
       |       w.sx // w.n - 180000, w.sy // w.n - 80000
       |FROM walk w JOIN nmax m ON w.user_id = m.user_id AND w.rn = m.mr
       |WHERE w.lt - w.at >= $StayTUs""".stripMargin
  }

  // =================================================================
  // Douglas–Peucker polyline simplification (the REAL recursive DP,
  // complementing traj_simplify's radial pre-pass): iterative segment
  // refinement — each round every active chord finds its farthest
  // interior point (perpendicular metric cross²/len2; squared distance
  // to the endpoint when the chord is degenerate) and splits there iff
  // the distance exceeds tol. Active segments always PARTITION each
  // track, so a round's candidate volume is ≤ one pass over the points
  // regardless of segment count, and the loop runs to convergence
  // (depth ≈ log track-length on scattered tracks; at 10^12 events
  // tracks are day-segmented first). Kept points = every segment
  // endpoint ever created. The argmax key and the split test are ONE
  // double form (cross²/len2 — exact BIGINT operands, deterministic
  // IEEE division identical on both engines) with the rn tiebreak;
  // per-round frontier/kept localCheckpoint (iterative-loop lineage
  // invariant). The oracle replays the refinement as a recursive CTE
  // whose recursive term nests the argmax WINDOW and emits both
  // children via unnest([0,1]) (the dtw/viterbi recursion toolbox);
  // kept falls out as DISTINCT endpoints of the whole recursive table.
  // =================================================================

  private val DpTol2 = 120000L * 120000L // milli²

  /** Shared farthest-point key over cr/len2/d2a integer columns. */
  private val dpKeyExpr: String =
    "CASE WHEN len2 = 0 THEN CAST(d2a AS DOUBLE) " +
      "ELSE CAST(cr AS DOUBLE) * CAST(cr AS DOUBLE) / CAST(len2 AS DOUBLE) END"

  def dpSimplify(spark: SparkSession, sfDir: String): DataFrame =
    dpSimplifyOf(
      events(spark, sfDir)
        .select(col("event_id").as("id"), col("user_id"), col("us"),
          scatter.x.milli(col("event_id")).as("x"), scatter.y.milli(col("event_id")).as("y")),
      Seq("user_id"))

  /** The per-track LOCAL DP shape over any (id, us, x, y, keyCols...)
    * point frame: ONE groupBy exchange collects each track rn-sorted,
    * F.dpKeepIds replays the whole refinement tree in-row (identical
    * argmax arithmetic + tiebreak as the recursive-CTE oracle), and
    * explode emits the kept ids. The r4 round-driven DataFrame loop paid
    * |rounds| × (exchange + localCheckpoint + driver latency) ≈ 7.7 s at
    * sf0.1 — and its per-round candidate join was segments × points
    * besides; this is one job, no iteration, and the same rows
    * bit-exactly (7.7 → 0.33 s). The sort key (us, id) in the collected
    * struct reproduces the oracle's row_number ordering.
    *
    * CONTRACT: each `keyCols` group (track) is collected into one row, so
    * tracks must be BOUNDED. The driver query keys by user_id — the synth
    * fixture's per-user tracks are bounded by construction; a 10^12-event
    * deployment keys by (user_id, day) — standard day-segmentation, which
    * this entry point takes directly (TrajectorySpec exercises the
    * two-column key). Unbounded tracks with no natural segment key want
    * the iterative refinement loop (git history, r4) instead. */
  def dpSimplifyOf(pts: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    pts.groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(col("us"), col("id"), col("x"), col("y")))).as("ps"))
      .select(keys :+ explode(F.dpKeepIds(
        expr("transform(ps, p -> p.x)"), expr("transform(ps, p -> p.y)"),
        expr("transform(ps, p -> p.id)"),
        lit(DpTol2.toDouble))).as("event_id"): _*)
  }

  def dpSimplifySql: String =
    s"""WITH RECURSIVE pts AS (
       |  SELECT user_id, event_id AS id, $evUsSql AS us,
       |         ${scatter.x.milliSql("event_id")} AS x,
       |         ${scatter.y.milliSql("event_id")} AS y,
       |         row_number() OVER ($fixOrderSql) AS rn
       |  FROM events),
       |ends AS (SELECT user_id, CAST(max(rn) AS BIGINT) AS n FROM pts GROUP BY 1),
       |segs AS (
       |  SELECT user_id, CAST(1 AS BIGINT) AS i, n AS j FROM ends WHERE n >= 2
       |  UNION ALL
       |  SELECT t.user_id,
       |         CASE WHEN c.s = 0 THEN t.i ELSE t.m END AS i,
       |         CASE WHEN c.s = 0 THEN t.m ELSE t.j END AS j
       |  FROM (
       |    SELECT user_id, i, j, m FROM (
       |      SELECT user_id, i, j, m,
       |             row_number() OVER (PARTITION BY user_id, i, j
       |                                ORDER BY $dpKeyExpr DESC, m ASC) AS rk,
       |             $dpKeyExpr AS dkey
       |      FROM (
       |        SELECT s.user_id, s.i, s.j, CAST(p.rn AS BIGINT) AS m,
       |               (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) AS cr,
       |               (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS len2,
       |               (p.x - a.x) * (p.x - a.x) + (p.y - a.y) * (p.y - a.y) AS d2a
       |        FROM segs s
       |        JOIN pts a ON a.user_id = s.user_id AND a.rn = s.i
       |        JOIN pts b ON b.user_id = s.user_id AND b.rn = s.j
       |        JOIN pts p ON p.user_id = s.user_id AND p.rn > s.i AND p.rn < s.j))
       |    WHERE rk = 1 AND dkey > CAST($DpTol2 AS DOUBLE)
       |  ) t, (SELECT unnest([0, 1]) AS s) c),
       |kept AS (
       |  SELECT user_id, i AS rn FROM segs
       |  UNION
       |  SELECT user_id, j AS rn FROM segs
       |  UNION
       |  SELECT user_id, CAST(1 AS BIGINT) AS rn FROM ends WHERE n = 1)
       |SELECT k.user_id, p.id AS event_id
       |FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.rn = k.rn""".stripMargin

  // =================================================================
  // Blocked pair self-joins, one per shape and engine. epsPairs: every
  // unordered pair within distance r on the milli box — width-r blocks,
  // the probe side explodes its 3×3 ring toward the build point's OWN
  // block, so each id-ordered pair meets exactly once (ripley_k,
  // variogram, knox's spatial side). timePairs: every time-ordered pair
  // within w — the EARLIER event probes buckets {b, b+1} of b = us div w,
  // the later keys its own b; the two probe keys are disjoint, so each
  // pair meets exactly once (co_locate, knox's temporal side). Both pin
  // shuffle_hash on the build side: at 10^12 points a block or bucket key
  // bounds every hash group (pipeline.Skew for hot keys). The oracles run
  // the UNBLOCKED θ self-joins (DuckDB IEJoin), so bit-equality proves
  // the blocking drops nothing and double-counts nothing.
  // =================================================================

  /** Pairs ia < ib of `pts` (id, xq, yq, `carry`…) with d² ≤ r², as exact
    * BIGINT: columns ia, xa, ya, ib, xb, yb, d2 and each carried column
    * suffixed a / b. */
  private[graft] def epsPairs(pts: DataFrame, r: Long, carry: String*): DataFrame = {
    def side(s: String) = Seq(col("id").as(s"i$s"), col("xq").as(s"x$s"), col("yq").as(s"y$s")) ++
      carry.map(c => col(c).as(c + s))
    val blocked = pts
      .withColumn("gx", expr(s"(xq + 180000) div $r"))
      .withColumn("gy", expr(s"(yq + 80000) div $r"))
    val probe = blocked
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select((col("gx") + col("dx")).as("gx") +: (col("gy") + col("dy")).as("gy") +: side("a"): _*)
    val build = blocked.select(col("gx") +: col("gy") +: side("b"): _*)
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    probe.join(build.hint("shuffle_hash"), Seq("gx", "gy"))
      .withColumn("d2", d2)
      .filter(col("ia") < col("ib") && col("d2") <= lit(r * r))
  }

  /** SQL twin of [[epsPairs]] over the CTE `t` (id, xq, yq, `carry`…):
    * columns d2 and each carried column suffixed a / b. */
  private def epsPairsSql(t: String, r: Long, carry: String*): String = {
    val d2 = "(a.xq - b.xq) * (a.xq - b.xq) + (a.yq - b.yq) * (a.yq - b.yq)"
    val cs = carry.map(c => s", a.$c AS ${c}a, b.$c AS ${c}b").mkString
    s"""SELECT $d2 AS d2$cs
       |  FROM $t a JOIN $t b
       |    ON b.xq BETWEEN a.xq - $r AND a.xq + $r
       |   AND b.yq BETWEEN a.yq - $r AND a.yq + $r
       |   AND a.id < b.id
       |  WHERE $d2 <= ${r * r}""".stripMargin
  }

  /** Pairs of `pts` (id, us, `keys`…, `carry`…) equal on `keys`, with a
    * before b (ua < ub, ties by ia < ib) and ub − ua ≤ w: columns keys,
    * bk, ia, ua, ib, ub and each carried column suffixed a / b. */
  private def timePairs(pts: DataFrame, w: Long, keys: Seq[String], carry: String*): DataFrame = {
    val b = expr(s"us div $w")
    def side(s: String) = Seq(col("id").as(s"i$s"), col("us").as(s"u$s")) ++
      carry.map(c => col(c).as(c + s))
    val early = pts.select(keys.map(col) ++ (explode(array(b, b + 1)).as("bk") +: side("a")): _*)
    val late = pts.select(keys.map(col) ++ (b.as("bk") +: side("b")): _*)
    early.join(late.hint("shuffle_hash"), keys :+ "bk")
      .filter((col("ua") < col("ub") ||
        (col("ua") === col("ub") && col("ia") < col("ib"))) &&
        col("ub") - col("ua") <= lit(w))
  }

  // =================================================================
  // Spatio-temporal co-location join: user pairs observed in the same
  // grid cell within a 6-hour window (the classic trajectory "meets"
  // join): timePairs keyed on the cell. The θ-join oracle's
  // same-cell-any-time candidate set (58× larger at sf0.1) is exactly
  // what the bucket key prunes. Positions use the QUADRATIC id-hash
  // scatter (the linear synth lattice admits zero same-cell cross-user
  // pairs); cells, buckets and gaps are exact BIGINT on both engines.
  // =================================================================

  private val CoLocCellMilli = 6000L           // ~6° grid: 60 × 27 cells
  private val CoLocWindowUs = 21600000000L     // 6 h in microseconds

  def coLocate(spark: SparkSession, sfDir: String): DataFrame = {
    def cell(a: Axis) = expr(s"${a.resSql("event_id")} div $CoLocCellMilli")
    val pts = events(spark, sfDir)
      .select(col("event_id").as("id"), col("user_id").as("s"), col("us"),
        cell(scatter.x).as("cx"), cell(scatter.y).as("cy"))
      .persist() // both join sides read it
    timePairs(pts, CoLocWindowUs, Seq("cx", "cy"), "s")
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("u1"),
        greatest(col("sa"), col("sb")).as("u2"))
      .agg(count(lit(1)).as("n_meets"),
        countDistinct(col("cx") * lit(100L) + col("cy")).as("n_cells"),
        min(col("ub") - col("ua")).as("min_gap_us"))
  }

  /** Mirror of [[coLocate]] as the unblocked θ self-join on cell equality
    * + the raw time/order/user predicates — bit-equality proves the
    * Spark side's bucket blocking drops nothing and double-counts
    * nothing. */
  def coLocateSql: String =
    s"""WITH pts AS MATERIALIZED (
       |  SELECT event_id AS id, user_id, $evUsSql AS us,
       |         ${scatter.x.resSql("event_id")} // $CoLocCellMilli AS cx,
       |         ${scatter.y.resSql("event_id")} // $CoLocCellMilli AS cy
       |  FROM events)
       |SELECT least(a.user_id, b.user_id) AS u1,
       |       greatest(a.user_id, b.user_id) AS u2,
       |       CAST(count(*) AS BIGINT) AS n_meets,
       |       CAST(count(DISTINCT a.cx * 100 + a.cy) AS BIGINT) AS n_cells,
       |       CAST(min(b.us - a.us) AS BIGINT) AS min_gap_us
       |FROM pts a JOIN pts b ON a.cx = b.cx AND a.cy = b.cy
       | AND (a.us < b.us OR (a.us = b.us AND a.id < b.id))
       | AND b.us - a.us <= $CoLocWindowUs
       | AND a.user_id <> b.user_id
       |GROUP BY 1, 2""".stripMargin

  // =================================================================
  // Ripley's K function (Ripley '76): the cumulative second-moment
  // statistic of point-pattern analysis — K̂(r) = A/n² · Σ_{i≠j}
  // 1[d_ij ≤ r] over a radius ladder (no edge correction; declared —
  // the gate pins the raw estimator). ONE epsPairs join at r_max
  // serves the whole ladder, then a single aggregation with one
  // conditional sum per radius over the quadratic id-hash scatter. The
  // only doubles are the final K̂ normalizations, written
  // token-identically (the 115200.0·n_pairs product stays an exact
  // integer-valued decimal below 2^53 on both engines before the
  // double division).
  // =================================================================

  private val RipleyRMax = 10000L
  private val RipleyRadii = Seq(2500L, 5000L, 7500L, 10000L)

  def ripleyK(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = dbscanPoints(spark, sfDir)
      .persist() // probe + build + the n_pts count all read it
    val nRow = pts.agg(count(lit(1)).as("n_pts"))
    val aggCols = RipleyRadii.map(r =>
      sum(when(col("d2") <= lit(r * r), 1L).otherwise(0L)).as(s"c$r"))
    val sums = epsPairs(pts, RipleyRMax).agg(aggCols.head, aggCols.tail: _*)
    sums.crossJoin(broadcast(nRow))
      .select(col("n_pts"), explode(array(RipleyRadii.map(r =>
        struct(lit(r).as("r_milli"), col(s"c$r").as("n_pairs"))): _*)).as("rc"))
      .select(col("rc.r_milli"), col("rc.n_pairs"),
        expr("round(115200.0 * rc.n_pairs / (CAST(n_pts AS DOUBLE) * n_pts), 6)")
          .as("k_hat"))
  }

  def ripleyKSql: String =
    s"""WITH pts AS MATERIALIZED ($dbscanPointsSql),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM pts),
       |pr AS MATERIALIZED (
       |  ${epsPairsSql("pts", RipleyRMax)}),
       |radii AS (SELECT CAST(unnest([${RipleyRadii.mkString(", ")}]) AS BIGINT) AS r_milli),
       |cnt AS (SELECT r.r_milli,
       |               CAST(sum(CASE WHEN p.d2 <= r.r_milli * r.r_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
       |        FROM radii r CROSS JOIN pr p GROUP BY 1)
       |SELECT r_milli, n_pairs,
       |       round(115200.0 * n_pairs / (CAST(n_pts AS DOUBLE) * n_pts), 6) AS k_hat
       |FROM cnt CROSS JOIN st""".stripMargin

  // =================================================================
  // Empirical semivariogram (Matheron '62): γ̂(h) = Σ (v_i − v_j)² /
  // (2·N_h) over annular distance bins — the kriging-input statistic
  // of geostatistics. Ripley's epsPairs join at r_max carries the
  // value v; the value field is a deterministic integer trend surface
  // plus id-hash noise (so γ̂ actually RISES with h — a white-noise
  // field would flatline and mask binning bugs). Squared differences
  // and bin counts are exact BIGINT; γ̂ is the only double. One pair
  // join + one aggregation with a conditional (count, sum) pair per
  // bin.
  // =================================================================

  /** Integer trend-surface value: both engines compute it identically. */
  private val varioValSql =
    "(xq div 2500) * 3 + (yq div 2500) * 2 + (id % 7)"
  private val varioValDuck =
    "(xq // 2500) * 3 + (yq // 2500) * 2 + (id % 7)"

  def variogram(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = RipleyRadii // annuli (prev, r]
    val pts = dbscanPoints(spark, sfDir)
      .withColumn("v", expr(varioValSql))
      .persist()
    val d2 = col("d2")
    val dv2 = (col("va") - col("vb")) * (col("va") - col("vb"))
    val lohi = bins.zip(0L +: bins.init)
    val aggCols = lohi.flatMap { case (hi, lo) =>
      val in = d2 > lit(lo * lo) && d2 <= lit(hi * hi)
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$hi"),
        sum(when(in, dv2).otherwise(lit(0L))).as(s"s$hi"))
    }
    epsPairs(pts, RipleyRMax, "v")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(lohi.map { case (hi, lo) =>
        struct(lit(lo).as("bin_lo"), lit(hi).as("bin_hi"),
          col(s"n$hi").as("n_pairs"), col(s"s$hi").as("ssq"))
      }: _*)).as("b"))
      .select(col("b.bin_lo"), col("b.bin_hi"), col("b.n_pairs"), col("b.ssq"),
        expr("CASE WHEN b.n_pairs = 0 THEN 0.0 ELSE " +
          "round(CAST(b.ssq AS DOUBLE) / (2.0 * b.n_pairs), 6) END").as("gamma"))
  }

  def variogramSql: String = {
    val lohi = RipleyRadii.zip(0L +: RipleyRadii.init)
    val binRows = lohi.map { case (hi, lo) => s"($lo, $hi)" }.mkString(", ")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT id, xq, yq, $varioValDuck AS v FROM ($dbscanPointsSql)),
       |pr AS MATERIALIZED (
       |  SELECT d2, (va - vb) * (va - vb) AS dv2
       |  FROM (${epsPairsSql("pts", RipleyRMax, "v")})),
       |bins AS (SELECT CAST(lo AS BIGINT) AS bin_lo, CAST(hi AS BIGINT) AS bin_hi
       |         FROM (VALUES $binRows) t(lo, hi)),
       |cnt AS (SELECT b.bin_lo, b.bin_hi,
       |          CAST(sum(CASE WHEN p.d2 > b.bin_lo * b.bin_lo AND p.d2 <= b.bin_hi * b.bin_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       |          CAST(sum(CASE WHEN p.d2 > b.bin_lo * b.bin_lo AND p.d2 <= b.bin_hi * b.bin_hi THEN p.dv2 ELSE 0 END) AS BIGINT) AS ssq
       |        FROM bins b CROSS JOIN pr p GROUP BY 1, 2)
       |SELECT bin_lo, bin_hi, n_pairs, ssq,
       |       CASE WHEN n_pairs = 0 THEN 0.0 ELSE
       |         round(CAST(ssq AS DOUBLE) / (2.0 * n_pairs), 6) END AS gamma
       |FROM cnt""".stripMargin
  }

  // =================================================================
  // Moran's I (Moran '50): the global spatial-autocorrelation index
  // over z6 cell counts with queen (8-neighbor) weights on the
  // occupied-cell universe. The centered terms are kept EXACT by
  // clearing denominators: u_i = n·x_i − S is an integer, and
  // I = (n/W) · Σ w_ij u_i u_j / Σ u_i² — the 1/n² factors cancel, so
  // every aggregation is BIGINT and only the final ratio is a double.
  // Neighbor sums reuse the 9-probe explode MINUS self (w_ii = 0);
  // the global (n, S) pair is one 1-row broadcast. Output is the
  // 1-row statistic with its exact integer numerator/denominator
  // alongside (auditable: a wrong neighbor scheme shifts num/w_sum).
  // =================================================================

  def moranI(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val glob = counts.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sumc"))
    val cells = counts.crossJoin(broadcast(glob))
      .withColumn("u", col("n") * col("cnt") - col("sumc"))
      .persist() // probe, build and the final moment agg all read it
    val contrib = queen(cells, col("u").as("nu"))
      .groupBy("cell").agg(sum(col("nu")).as("su"), count(lit(1)).as("nn"))
    cells.join(contrib, "cell")
      .agg(max(col("n")).as("n_cells"),
        sum(col("nn") - lit(1L)).as("w_sum"),
        sum(col("u") * (col("su") - col("u"))).as("num"),
        sum(col("u") * col("u")).as("den"))
      .withColumn("moran_i", expr(
        "CASE WHEN w_sum = 0 OR den = 0 THEN 0.0 ELSE " +
          "round(CAST(n_cells AS DOUBLE) * num / (CAST(w_sum AS DOUBLE) * den), 6) END"))
      .select(col("n_cells"), col("w_sum"), col("num"), col("den"), col("moran_i"))
  }

  def moranISql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |gstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sumc
       |          FROM counts),
       |cells AS MATERIALIZED (
       |  SELECT cell, x, y, n, n * cnt - sumc AS u
       |  FROM counts CROSS JOIN gstat),
       |${queenSql("cells", Seq(",", "CAST(sum(u) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS nn"))},
       |agg AS (SELECT CAST(max(n) AS BIGINT) AS n_cells,
       |               CAST(sum(nn - 1) AS BIGINT) AS w_sum,
       |               CAST(sum(u * (su - u)) AS BIGINT) AS num,
       |               CAST(sum(u * u) AS BIGINT) AS den
       |        FROM cells JOIN contrib USING (cell))
       |SELECT n_cells, w_sum, num, den,
       |  CASE WHEN w_sum = 0 OR den = 0 THEN 0.0 ELSE
       |    round(CAST(n_cells AS DOUBLE) * num / (CAST(w_sum AS DOUBLE) * den), 6) END AS moran_i
       |FROM agg""".stripMargin

  // =================================================================
  // Geary's C (Geary '54): the global contiguity ratio — Moran's I's
  // squared-difference sibling, sensitive to local (not just global)
  // departures. Same occupied-z6-cell universe and queen weights:
  // C = (n−1)·Σ_ij w_ij (x_i−x_j)² / (2W·Σ(x_i−x̄)²). Everything is
  // exact BIGINT with cleared denominators: Σ(x_i−x̄)² = Σu_i²/n²
  // (u_i = n·x_i − S, the moran_i trick), so
  // C = (n−1)·n²·num / (2W·Σu²). The per-cell neighbor SSD comes from
  // the SAME 9-probe contrib aggregation extended with Σcnt² — no
  // pair join at all: Σ_j (x_i−x_j)² = (wn_i−1)·x_i² − 2·x_i·(sm−x_i)
  // + (sq−x_i²) since contrib includes self. Output is the 1-row
  // statistic with its exact integer numerator/denominator alongside.
  // =================================================================

  def gearyC(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val glob = counts.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sumc"))
    val contrib = queen(counts, col("cnt").as("nc"))
      .groupBy("cell").agg(sum(col("nc")).as("sm"),
        sum(col("nc") * col("nc")).as("sq"), count(lit(1)).as("wn"))
    counts.join(contrib, "cell").crossJoin(broadcast(glob))
      .withColumn("u", col("n") * col("cnt") - col("sumc"))
      .agg(max(col("n")).as("n_cells"),
        sum(col("wn") - lit(1L)).as("w_sum"),
        sum((col("wn") - lit(1L)) * col("cnt") * col("cnt")
          - lit(2L) * col("cnt") * (col("sm") - col("cnt"))
          + (col("sq") - col("cnt") * col("cnt"))).as("num"),
        sum(col("u") * col("u")).as("den"))
      .withColumn("geary_c", expr(
        "CASE WHEN w_sum = 0 OR den = 0 OR n_cells <= 1 THEN 0.0 ELSE " +
          "round(CAST(n_cells - 1 AS DOUBLE) * n_cells * n_cells * num / " +
          "(2.0 * w_sum * CAST(den AS DOUBLE)), 6) END"))
      .select(col("n_cells"), col("w_sum"), col("num"), col("den"), col("geary_c"))
  }

  def gearyCSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |gstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sumc
       |          FROM counts),
       |${queenSql("counts", Seq(",", "CAST(sum(cnt) AS BIGINT) AS sm,",
         "CAST(sum(cnt * cnt) AS BIGINT) AS sq,", "CAST(count(*) AS BIGINT) AS wn"))},
       |agg AS (SELECT CAST(max(n) AS BIGINT) AS n_cells,
       |               CAST(sum(wn - 1) AS BIGINT) AS w_sum,
       |               CAST(sum((wn - 1) * cnt * cnt - 2 * cnt * (sm - cnt) + (sq - cnt * cnt)) AS BIGINT) AS num,
       |               CAST(sum(u * u) AS BIGINT) AS den
       |        FROM (SELECT counts.cnt, contrib.sm, contrib.sq, contrib.wn,
       |                     n * counts.cnt - sumc AS u, n
       |              FROM counts JOIN contrib ON counts.cell = contrib.cell
       |              CROSS JOIN gstat))
       |SELECT n_cells, w_sum, num, den,
       |  CASE WHEN w_sum = 0 OR den = 0 OR n_cells <= 1 THEN 0.0 ELSE
       |    round(CAST(n_cells - 1 AS DOUBLE) * n_cells * n_cells * num /
       |    (2.0 * w_sum * CAST(den AS DOUBLE)), 6) END AS geary_c
       |FROM agg""".stripMargin

  // =================================================================
  // Local Moran's I / LISA (Anselin '95): per-cell cluster-and-outlier
  // decomposition of moran_i — I_i = n·u_i·lag_i / Σu² with
  // lag_i = Σ_j w_ij u_j (queen weights, w_ii = 0), plus the quadrant
  // label HH/LL (clusters) / HL/LH (outliers) / NS (a zero term) from
  // the exact integer signs of u_i and lag_i — no double ever decides
  // a label. Shares moran_i's cells/contrib shapes; Σu² rides the SAME
  // 1-row broadcast as (n, S). Σ_i I_i = n·moran_i·W consistency is
  // pinned in the spec.
  // =================================================================

  def localMoran(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val glob = counts.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sumc"))
    val cells = counts.crossJoin(broadcast(glob))
      .withColumn("u", col("n") * col("cnt") - col("sumc"))
      .persist() // contrib probe, Σu² agg and the final join all read it
    val den = cells.agg(sum(col("u") * col("u")).as("den"))
    val contrib = queen(cells, col("u").as("nu"))
      .groupBy("cell").agg(sum(col("nu")).as("su"))
    cells.join(contrib, "cell").crossJoin(broadcast(den))
      .withColumn("lag", col("su") - col("u"))
      .withColumn("quad", expr(
        "CASE WHEN u > 0 AND lag > 0 THEN 'HH' WHEN u < 0 AND lag < 0 THEN 'LL' " +
          "WHEN u > 0 AND lag < 0 THEN 'HL' WHEN u < 0 AND lag > 0 THEN 'LH' " +
          "ELSE 'NS' END"))
      .withColumn("local_i", expr(
        "CASE WHEN den = 0 THEN 0.0 ELSE " +
          "round(CAST(n AS DOUBLE) * (u * lag) / den, 6) END"))
      .select(col("cell"), col("cnt"), col("u"), col("lag"), col("quad"),
        col("local_i"))
  }

  def localMoranSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |gstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sumc
       |          FROM counts),
       |cells AS MATERIALIZED (
       |  SELECT cell, x, y, cnt, n, n * cnt - sumc AS u
       |  FROM counts CROSS JOIN gstat),
       |dstat AS (SELECT CAST(sum(u * u) AS BIGINT) AS den FROM cells),
       |${queenSql("cells", Seq(",", "CAST(sum(u) AS BIGINT) AS su"))}
       |SELECT cells.cell, cnt, u, su - u AS lag,
       |  CASE WHEN u > 0 AND su - u > 0 THEN 'HH' WHEN u < 0 AND su - u < 0 THEN 'LL'
       |       WHEN u > 0 AND su - u < 0 THEN 'HL' WHEN u < 0 AND su - u > 0 THEN 'LH'
       |       ELSE 'NS' END AS quad,
       |  CASE WHEN den = 0 THEN 0.0 ELSE
       |    round(CAST(n AS DOUBLE) * (u * (su - u)) / den, 6) END AS local_i
       |FROM cells JOIN contrib ON cells.cell = contrib.cell CROSS JOIN dstat""".stripMargin

  // =================================================================
  // Quartic-kernel density estimation (Silverman '86 §4.4) onto a
  // fixed 36×16 node lattice (10°-spaced centers) with bandwidth
  // h = 15°: the heatmap primitive. Kernel mass is kept EXACT by
  // quantizing the quartic to the integer lattice: q = (h²−d²) div 10⁵
  // (both engines floor non-negative ints identically), w = q² — sums
  // of w are exact BIGINT (the raw (h²−d²)² would overflow 2^63 at
  // ~180 in-range points per node). A point reaches only nodes within
  // the ±2 node window ((k−0.5)·spacing > h for k = 3), so the probe
  // side explodes 25 candidates and one groupBy finishes it — node
  // keys are dense and bounded (≤576), so the shuffle is trivially
  // balanced at any corpus size. Oracle: the UNBLOCKED node×point
  // θ-join over the generated lattice — bit-equality proves the 5×5
  // window drops nothing (boundary hits at exactly d = h included).
  // =================================================================

  private val KdeH = 15000L      // bandwidth, milli-degrees
  private val KdeSpacing = 10000L

  def kdeGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = dbscanPoints(spark, sfDir).persist() // probe + the n_pts count
    val nRow = pts.agg(count(lit(1)).as("n_pts"))
    val cand = pts
      .withColumn("pgx", expr(s"(xq + 180000) div $KdeSpacing"))
      .withColumn("pgy", expr(s"(yq + 80000) div $KdeSpacing"))
      .withColumn("dx", explode(sequence(lit(-2), lit(2))))
      .withColumn("dy", explode(sequence(lit(-2), lit(2))))
      .withColumn("gx", col("pgx") + col("dx"))
      .withColumn("gy", col("pgy") + col("dy"))
      .filter(col("gx") >= 0 && col("gx") < 36 && col("gy") >= 0 && col("gy") < 16)
      .withColumn("nx", col("gx") * lit(KdeSpacing) + lit(KdeSpacing / 2) - lit(180000L))
      .withColumn("ny", col("gy") * lit(KdeSpacing) + lit(KdeSpacing / 2) - lit(80000L))
      .withColumn("d2", (col("xq") - col("nx")) * (col("xq") - col("nx")) +
        (col("yq") - col("ny")) * (col("yq") - col("ny")))
      .filter(col("d2") <= lit(KdeH * KdeH))
      .withColumn("q", expr(s"($KdeH * $KdeH - d2) div 100000"))
    cand.groupBy("gx", "gy")
      .agg(count(lit(1)).as("n_in"), sum(col("q") * col("q")).as("wsum"))
      .crossJoin(broadcast(nRow))
      .withColumn("kde", expr("round(CAST(wsum AS DOUBLE) / n_pts, 6)"))
      .select(col("gx"), col("gy"), col("n_in"), col("wsum"), col("kde"))
  }

  def kdeGridSql: String =
    s"""WITH pts AS MATERIALIZED ($dbscanPointsSql),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM pts),
       |nodes AS (
       |  SELECT gx.g AS gx, gy.g AS gy,
       |         gx.g * $KdeSpacing + ${KdeSpacing / 2} - 180000 AS nx,
       |         gy.g * $KdeSpacing + ${KdeSpacing / 2} - 80000 AS ny
       |  FROM (SELECT CAST(unnest(generate_series(0, 35)) AS BIGINT) AS g) gx,
       |       (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS g) gy),
       |cand AS (
       |  SELECT gx, gy,
       |         ($KdeH * $KdeH - ((p.xq - n.nx) * (p.xq - n.nx) + (p.yq - n.ny) * (p.yq - n.ny))) // 100000 AS q
       |  FROM nodes n JOIN pts p
       |    ON (p.xq - n.nx) * (p.xq - n.nx) + (p.yq - n.ny) * (p.yq - n.ny)
       |       <= ${KdeH * KdeH})
       |SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_in,
       |       CAST(sum(q * q) AS BIGINT) AS wsum,
       |       round(CAST(CAST(sum(q * q) AS BIGINT) AS DOUBLE) / n_pts, 6) AS kde
       |FROM cand CROSS JOIN st GROUP BY gx, gy, n_pts""".stripMargin

  // =================================================================
  // Standard deviational ellipse (Lefever '26; the ArcGIS
  // "directional distribution" statistic) per event type: mean
  // center, principal-axis orientation and axis standard deviations
  // of each type's point set. Coordinates quantize to centi-degrees
  // so ALL moments are exact BIGINT with cleared denominators:
  // Vxx = n·Σx² − Sx² = n²·Var·... (exact while n·x_max² < 2^63 ⇒
  // n ≤ 2.6·10⁷ points per type; beyond that the same shape runs on
  // DECIMAL(38)/HUGEINT). One map-side-combined groupBy(type) — ZERO
  // joins, no pair enumeration: the ellipse is a moment statistic.
  // Doubles appear only in the final eigen decomposition, written
  // token-identically; θ via atan2 (transcendental ⇒ rounded), axes
  // via IEEE-exact sqrt.
  // =================================================================

  def stdEllipse(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = events(spark, sfDir)
      .select(col("event_type").as("etype"),
        expr(s"${scatter.x.resSql("event_id")} div 100").as("xc"),
        expr(s"${scatter.y.resSql("event_id")} div 100").as("yc"))
    pts.groupBy("etype")
      .agg(count(lit(1)).as("n"),
        sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("yc") * col("yc")).as("syy"),
        sum(col("xc") * col("yc")).as("sxy"))
      .withColumn("vxx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vyy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("vxy", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("disc", expr(
        "sqrt((CAST(vxx AS DOUBLE) - vyy) * (CAST(vxx AS DOUBLE) - vyy) " +
          "+ 4.0 * CAST(vxy AS DOUBLE) * vxy)"))
      .withColumn("mean_x", expr("round(CAST(sx AS DOUBLE) / n, 6)"))
      .withColumn("mean_y", expr("round(CAST(sy AS DOUBLE) / n, 6)"))
      .withColumn("theta_deg", expr(
        "CASE WHEN vxy = 0 AND vxx = vyy THEN 0.0 ELSE " +
          "round(degrees(0.5 * atan2(2.0 * CAST(vxy AS DOUBLE), " +
          "CAST(vxx AS DOUBLE) - vyy)), 6) END"))
      .withColumn("sigma_major", expr(
        "round(sqrt((CAST(vxx AS DOUBLE) + vyy + disc) / " +
          "(2.0 * CAST(n * n AS DOUBLE))), 6)"))
      .withColumn("sigma_minor", expr(
        // degenerate (collinear) sets can push the minor eigenvalue a few
        // ulps negative in double — clamp identically on both engines
        "round(sqrt(greatest((CAST(vxx AS DOUBLE) + vyy - disc) / " +
          "(2.0 * CAST(n * n AS DOUBLE)), 0.0)), 6)"))
      .select(col("etype"), col("n"), col("vxx"), col("vyy"), col("vxy"),
        col("mean_x"), col("mean_y"), col("theta_deg"),
        col("sigma_major"), col("sigma_minor"))
  }

  def stdEllipseSql: String =
    s"""WITH pts AS (
       |  SELECT event_type AS etype,
       |         ${scatter.x.resSql("event_id")} // 100 AS xc,
       |         ${scatter.y.resSql("event_id")} // 100 AS yc
       |  FROM events),
       |m AS (SELECT etype, CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
       |             CAST(sum(xc * xc) AS BIGINT) AS sxx,
       |             CAST(sum(yc * yc) AS BIGINT) AS syy,
       |             CAST(sum(xc * yc) AS BIGINT) AS sxy
       |      FROM pts GROUP BY 1),
       |v AS (SELECT etype, n, n * sxx - sx * sx AS vxx, n * syy - sy * sy AS vyy,
       |             n * sxy - sx * sy AS vxy, sx, sy
       |      FROM m),
       |d AS (SELECT *, sqrt((CAST(vxx AS DOUBLE) - vyy) * (CAST(vxx AS DOUBLE) - vyy)
       |               + 4.0 * CAST(vxy AS DOUBLE) * vxy) AS disc
       |      FROM v)
       |SELECT etype, n, vxx, vyy, vxy,
       |  round(CAST(sx AS DOUBLE) / n, 6) AS mean_x,
       |  round(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
       |  CASE WHEN vxy = 0 AND vxx = vyy THEN 0.0 ELSE
       |    round(degrees(0.5 * atan2(2.0 * CAST(vxy AS DOUBLE),
       |    CAST(vxx AS DOUBLE) - vyy)), 6) END AS theta_deg,
       |  round(sqrt((CAST(vxx AS DOUBLE) + vyy + disc) /
       |    (2.0 * CAST(n * n AS DOUBLE))), 6) AS sigma_major,
       |  round(sqrt(greatest((CAST(vxx AS DOUBLE) + vyy - disc) /
       |    (2.0 * CAST(n * n AS DOUBLE)), 0.0)), 6) AS sigma_minor
       |FROM d""".stripMargin

  // =================================================================
  // Knox space-time interaction test (Knox '64): X = pairs close in
  // BOTH space (δ) and time (τ), referenced against the independence
  // expectation S·T/P (S spatial-close, T temporal-close, P all
  // pairs) — the classic epidemiology cluster statistic. Two blocked
  // pair self-joins, never three: the spatial epsPairs join carries us
  // and yields S and X in ONE aggregation (X is a conditional sum over
  // the spatial pairs' time gaps); the temporal one is timePairs. All
  // pair counts exact BIGINT; the ratio is the only double,
  // identical-operand on both engines.
  // =================================================================

  private val KnoxDeltaMilli = 10000L  // 10° spatial closeness
  private val KnoxTauUs = 3600000000L  // 1 h temporal closeness

  private val knoxRatioSql =
    "CASE WHEN s_pairs * t_pairs = 0 THEN 0.0 ELSE " +
      "round(CAST(x_pairs AS DOUBLE) * p_pairs / (CAST(s_pairs AS DOUBLE) * t_pairs), 6) END"

  def knox(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("event_id")
    val pts = events(spark, sfDir)
      .select(k.as("id"), col("us"), scatter.x.milli(k).as("xq"), scatter.y.milli(k).as("yq"))
      .persist() // four consumers: spatial probe/build, temporal probe/build
    val nRow = pts.agg(count(lit(1)).as("n_pts"))
    val sx = epsPairs(pts, KnoxDeltaMilli, "us")
      .agg(count(lit(1)).as("s_pairs"),
        sum(when(abs(col("usa") - col("usb")) <= lit(KnoxTauUs), 1L).otherwise(0L))
          .as("x_pairs"))
    val tp = timePairs(pts, KnoxTauUs, Nil).agg(count(lit(1)).as("t_pairs"))
    nRow.crossJoin(broadcast(sx)).crossJoin(broadcast(tp))
      .withColumn("p_pairs", expr("(n_pts * (n_pts - 1)) div 2"))
      .withColumn("knox_ratio", expr(knoxRatioSql))
      .select(col("n_pts"), col("p_pairs"), col("s_pairs"), col("t_pairs"),
        col("x_pairs"), col("knox_ratio"))
  }

  def knoxSql: String =
    s"""WITH pts AS MATERIALIZED (
       |  SELECT event_id AS id, $evUsSql AS us,
       |         ${scatter.x.milliSql("event_id")} AS xq,
       |         ${scatter.y.milliSql("event_id")} AS yq
       |  FROM events),
       |st AS (SELECT n_pts, (n_pts * (n_pts - 1)) // 2 AS p_pairs
       |       FROM (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM pts)),
       |sp AS (SELECT CAST(count(*) AS BIGINT) AS s_pairs,
       |              CAST(sum(CASE WHEN abs(usa - usb) <= $KnoxTauUs THEN 1 ELSE 0 END) AS BIGINT) AS x_pairs
       |       FROM (${epsPairsSql("pts", KnoxDeltaMilli, "us")})),
       |tp AS (SELECT CAST(count(*) AS BIGINT) AS t_pairs
       |       FROM pts a JOIN pts b
       |         ON b.us BETWEEN a.us AND a.us + $KnoxTauUs
       |        AND (a.us < b.us OR (a.us = b.us AND a.id < b.id)))
       |SELECT n_pts, p_pairs, s_pairs, t_pairs,
       |       x_pairs, $knoxRatioSql AS knox_ratio
       |FROM st CROSS JOIN sp CROSS JOIN tp""".stripMargin

  // =================================================================
  // Distributed convex hull (hull-of-hulls): extreme points of each
  // event-type's point set. Two-level exact aggregation — per-bucket
  // partial hulls (map-side-sized payloads), then hull of the union of
  // bucket hulls, which equals the full hull (conv(∪ conv(Si)) =
  // conv(∪ Si)). At 10^12 points the partial level collapses each
  // partition's contribution to its ≤O(hull) extreme points before the
  // one per-group shuffle — the classic mergeable-summary shape. The
  // fixture caps each group at 48 points by event_id rank so the
  // quadratic SQL extreme-point oracle (¬∃ containing triangle —
  // Carathéodory in 2D, degenerate triangles included via the bbox
  // guard) stays tractable; the uncapped hull-of-hulls ≡ single-pass
  // equivalence at 50k points is pinned by ScalaTest (HullSpec), and
  // the kernel itself is property-tested against JTS. Positions use the
  // QUADRATIC id-hash scatter (the linear lattice is arithmetic-chain
  // degenerate — dbscanPoints rationale); all cross products are exact
  // BIGINTs on both engines.
  // =================================================================

  private val HullCap = 48

  def convexHull(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("etype")).orderBy(col("event_id").asc)
    val cand = events(spark, sfDir)
      .select(col("event_id"), col("event_type").as("etype"),
        scatter.x.res(col("event_id")).as("x"), scatter.y.res(col("event_id")).as("y"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= HullCap)
      .select(col("etype"), col("x"), col("y"))
      .distinct()
    val partial = cand
      .groupBy(col("etype"), ((col("x") * 31 + col("y")) % 8).as("bucket"))
      .agg(collect_list(struct(col("x"), col("y"))).as("pts"))
      .select(col("etype"), explode(F.hull2d(col("pts"))).as("p"))
    partial
      .groupBy(col("etype"))
      .agg(collect_list(struct(col("p.x").as("x"), col("p.y").as("y"))).as("pts"))
      .select(col("etype"), explode(F.hull2d(col("pts"))).as("p"))
      .select(col("etype"), col("p.x").as("x"), col("p.y").as("y"))
  }

  /** Mirror of [[convexHull]] as the Carathéodory extreme-point test: p is
    * a hull vertex iff no triangle (a,b,d) of OTHER candidate points
    * contains it (closed containment — same-sign orientation triple — with
    * a bbox guard so degenerate collinear "triangles" only capture points
    * actually between their endpoints). Plain 4-way join + anti join, no
    * correlated subquery (the DuckDB LATERAL binder trap). */
  def convexHullSql: String = {
    def cr(o: String, a: String, b: String): String =
      s"(($a.x - $o.x) * ($b.y - $o.y) - ($a.y - $o.y) * ($b.x - $o.x))"
    val s1 = cr("a", "b", "c")
    val s2 = cr("b", "d", "c")
    val s3 = cr("d", "a", "c")
    s"""WITH pts AS (
       |  SELECT event_id, event_type AS etype,
       |         ${scatter.x.resSql("event_id")} AS x,
       |         ${scatter.y.resSql("event_id")} AS y
       |  FROM events),
       |cap AS (
       |  SELECT etype, x, y FROM (
       |    SELECT etype, x, y,
       |           row_number() OVER (PARTITION BY etype ORDER BY event_id) AS rn
       |    FROM pts)
       |  WHERE rn <= $HullCap),
       |cand AS MATERIALIZED (SELECT DISTINCT etype, x, y FROM cap),
       |inner_pts AS (
       |  SELECT DISTINCT c.etype, c.x, c.y
       |  FROM cand c
       |  JOIN cand a ON a.etype = c.etype AND NOT (a.x = c.x AND a.y = c.y)
       |  JOIN cand b ON b.etype = c.etype AND NOT (b.x = c.x AND b.y = c.y)
       |  JOIN cand d ON d.etype = c.etype AND NOT (d.x = c.x AND d.y = c.y)
       |  WHERE (($s1 >= 0 AND $s2 >= 0 AND $s3 >= 0) OR
       |         ($s1 <= 0 AND $s2 <= 0 AND $s3 <= 0))
       |    AND c.x BETWEEN least(a.x, b.x, d.x) AND greatest(a.x, b.x, d.x)
       |    AND c.y BETWEEN least(a.y, b.y, d.y) AND greatest(a.y, b.y, d.y))
       |SELECT c.etype, c.x, c.y
       |FROM cand c ANTI JOIN inner_pts i
       |  ON c.etype = i.etype AND c.x = i.x AND c.y = i.y""".stripMargin
  }

  // =================================================================
  // IDW spatial interpolation (smoothed inverse-distance weighting):
  // each probe point estimates a value from the stations within R =
  // 2000 milli-degrees as Σ w·v / Σ w with w = 10^12 div (d² + 1) — the
  // +1 removes the d=0 singularity and makes every weight an exact
  // BIGINT, so the whole operator (weights, sums, quotient) is integer
  // arithmetic: order-independent aggregation (the ann_cosine
  // discipline) and a bit-exact DuckDB mirror with zero rounding. Grid
  // blocking: stations key their R-width cell, probes explode the 3×3
  // ring — Chebyshev(p,s) ≤ R ⟹ same-or-adjacent cell, so the
  // equi-join is loss-free, and station cells are unique per station so
  // it is exactly-once. Station side is corpus-scaling (never
  // broadcast — shuffle_hash pinned); probes with no station in range
  // drop out on both engines.
  // =================================================================

  private val IdwRadiusMilli = 2000L
  private val IdwScale = 1000000000000L

  def idwGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val st = TableIO.read(spark, s"$sfDir/customer.parquet")
      .select((col("c_custkey") % 997).as("v"),
        custLattice.x.milli(col("c_custkey")).as("sx"),
        custLattice.y.milli(col("c_custkey")).as("sy"))
      .withColumn("cx", expr(s"(sx + 180000) div $IdwRadiusMilli"))
      .withColumn("cy", expr(s"(sy + 80000) div $IdwRadiusMilli"))
    val pr = events(spark, sfDir)
      .select(col("event_id"),
        evLattice.x.milli(col("event_id")).as("px"),
        evLattice.y.milli(col("event_id")).as("py"))
      .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("cx", expr(s"(px + 180000) div $IdwRadiusMilli") + col("dx"))
      .withColumn("cy", expr(s"(py + 80000) div $IdwRadiusMilli") + col("dy"))
      .drop("dx", "dy")
    val d2 = (col("px") - col("sx")) * (col("px") - col("sx")) +
      (col("py") - col("sy")) * (col("py") - col("sy"))
    pr.join(st.hint("shuffle_hash"), Seq("cx", "cy"))
      .filter(d2 <= lit(IdwRadiusMilli * IdwRadiusMilli))
      .withColumn("w", expr(s"$IdwScale div ((px - sx) * (px - sx) + (py - sy) * (py - sy) + 1)"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_st"),
        sum(col("w")).as("den"),
        sum(col("w") * col("v")).as("num"))
      .withColumn("est_q", expr("num div den"))
  }

  /** Mirror of [[idwGrid]]: the same integer cell blocking as a BETWEEN
    * range join (cells, weights and sums are all exact BIGINT arithmetic —
    * nothing transcendental crosses engines; the raw θ-join would be
    * 1.5·10^10 pairs at sf0.1). Loss-freeness of the ±1-cell window is
    * arithmetic: |Δ| ≤ R ⟹ floor-div cells differ by ≤ 1. */
  def idwGridSql: String =
    s"""WITH st AS MATERIALIZED (
       |  SELECT c_custkey % 997 AS v,
       |         ${custLattice.x.milliSql("c_custkey")} AS sx,
       |         ${custLattice.y.milliSql("c_custkey")} AS sy
       |  FROM customer),
       |stc AS MATERIALIZED (
       |  SELECT v, sx, sy,
       |         (sx + 180000) // $IdwRadiusMilli AS cx,
       |         (sy + 80000) // $IdwRadiusMilli AS cy
       |  FROM st),
       |pr AS (
       |  SELECT event_id,
       |         ${evLattice.x.milliSql("event_id")} AS px,
       |         ${evLattice.y.milliSql("event_id")} AS py
       |  FROM events),
       |pairs AS (
       |  SELECT p.event_id,
       |         $IdwScale // ((px - sx) * (px - sx) + (py - sy) * (py - sy) + 1) AS w,
       |         s.v
       |  FROM pr p JOIN stc s
       |    ON s.cx BETWEEN (p.px + 180000) // $IdwRadiusMilli - 1
       |                AND (p.px + 180000) // $IdwRadiusMilli + 1
       |   AND s.cy BETWEEN (p.py + 80000) // $IdwRadiusMilli - 1
       |                AND (p.py + 80000) // $IdwRadiusMilli + 1
       |   AND (px - sx) * (px - sx) + (py - sy) * (py - sy)
       |       <= ${IdwRadiusMilli * IdwRadiusMilli})
       |SELECT event_id, CAST(count(*) AS BIGINT) AS n_st,
       |       CAST(sum(w) AS BIGINT) AS den,
       |       CAST(sum(w * v) AS BIGINT) AS num,
       |       CAST(sum(w * v) // sum(w) AS BIGINT) AS est_q
       |FROM pairs GROUP BY 1""".stripMargin

  // =================================================================
  // Track heading: initial great-circle bearing + haversine distance of
  // each consecutive event pair per user (the trajectory enrichment
  // pass feeding turn/speed analytics). Same single user-keyed window
  // exchange as od_flows. Bearing is transcendental → rounded to 4 on
  // BOTH sides (CLAUDE.md discipline); the pre-round double is built
  // token-for-token (radians as x*pi()/180, fmod of a positive value).
  // =================================================================

  def trackHeading(spark: SparkSession, sfDir: String): DataFrame = {
    val rad = lit(Math.PI) / lit(180.0)
    val pts = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        evLon(col("event_id")).as("lon1"), evLat(col("event_id")).as("lat1"))
      .withColumn("lon2", lead(col("lon1"), 1).over(fixOrder))
      .withColumn("lat2", lead(col("lat1"), 1).over(fixOrder))
      .filter(col("lon2").isNotNull)
    val dLam = (col("lon2") - col("lon1")) * rad
    val phi1 = col("lat1") * rad
    val phi2 = col("lat2") * rad
    val brg = atan2(
      sin(dLam) * cos(phi2),
      cos(phi1) * sin(phi2) - sin(phi1) * cos(phi2) * cos(dLam)) * lit(180.0) / lit(Math.PI)
    pts
      .withColumn("bearing_r", round((brg + lit(360.0)) % lit(360.0), 4))
      .withColumn("dist_r", round(F.haversineKm(
        col("lon1"), col("lat1"), col("lon2"), col("lat2")), 6))
      .select(col("user_id"), col("event_id"), col("bearing_r"), col("dist_r"))
  }

  def trackHeadingSql: String = {
    val brg = "atan2(sin((lon2 - lon1) * pi() / 180.0) * cos(lat2 * pi() / 180.0), " +
      "cos(lat1 * pi() / 180.0) * sin(lat2 * pi() / 180.0) - " +
      "sin(lat1 * pi() / 180.0) * cos(lat2 * pi() / 180.0) * cos((lon2 - lon1) * pi() / 180.0)) " +
      "* 180.0 / pi()"
    s"""WITH ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         $evLonSql AS lon1, $evLatSql AS lat1
       |  FROM events),
       |seq AS (
       |  SELECT user_id, event_id, lon1, lat1,
       |         lead(lon1, 1) OVER ($fixOrderSql) AS lon2,
       |         lead(lat1, 1) OVER ($fixOrderSql) AS lat2
       |  FROM ev)
       |SELECT user_id, event_id,
       |       round(fmod($brg + 360.0, 360.0), 4) AS bearing_r,
       |       round(${Synth.haversineSql("lon1", "lat1", "lon2", "lat2")}, 6) AS dist_r
       |FROM seq WHERE lon2 IS NOT NULL""".stripMargin
  }

  // =================================================================
  // H5b: geodesic midpoint resampling — the half-way point along the
  // great circle between consecutive track fixes (Williams' aviation
  // formulary midpoint form), the track-densification step of a
  // map-matching pipeline. Same single user-keyed pair window as
  // trackHeading, then pure per-row transcendentals; outputs rounded
  // (transcendental-derived doubles), pair identity keeps the
  // unrounded tiebreak-free key (user_id, event_id).
  // =================================================================

  def trackResample(spark: SparkSession, sfDir: String): DataFrame = {
    val rad = lit(Math.PI) / lit(180.0)
    val pts = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("us"),
        evLon(col("event_id")).as("lon1"), evLat(col("event_id")).as("lat1"))
      .withColumn("lon2", lead(col("lon1"), 1).over(fixOrder))
      .withColumn("lat2", lead(col("lat1"), 1).over(fixOrder))
      .filter(col("lon2").isNotNull)
    val phi1 = col("lat1") * rad
    val phi2 = col("lat2") * rad
    val dLam = (col("lon2") - col("lon1")) * rad
    val bbx = cos(phi2) * cos(dLam)
    val bby = cos(phi2) * sin(dLam)
    val phiM = atan2(sin(phi1) + sin(phi2),
      sqrt((cos(phi1) + bbx) * (cos(phi1) + bbx) + bby * bby))
    val lamM = col("lon1") * rad + atan2(bby, cos(phi1) + bbx)
    pts.select(col("user_id"), col("event_id"),
      round(lamM * lit(180.0) / lit(Math.PI), 5).as("mlon"),
      round(phiM * lit(180.0) / lit(Math.PI), 5).as("mlat"))
  }

  def trackResampleSql: String = {
    val c1 = "cos(lat1 * pi() / 180.0)"
    s"""WITH ev AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         $evLonSql AS lon1, $evLatSql AS lat1
       |  FROM events),
       |seq AS (
       |  SELECT user_id, event_id, lon1, lat1,
       |         lead(lon1, 1) OVER ($fixOrderSql) AS lon2,
       |         lead(lat1, 1) OVER ($fixOrderSql) AS lat2
       |  FROM ev),
       |b AS (
       |  SELECT user_id, event_id, lon1, lat1, lat2,
       |         cos(lat2 * pi() / 180.0) * cos((lon2 - lon1) * pi() / 180.0) AS bbx,
       |         cos(lat2 * pi() / 180.0) * sin((lon2 - lon1) * pi() / 180.0) AS bby
       |  FROM seq WHERE lon2 IS NOT NULL)
       |SELECT user_id, event_id,
       |       round((lon1 * pi() / 180.0 + atan2(bby, $c1 + bbx)) * 180.0 / pi(), 5) AS mlon,
       |       round(atan2(sin(lat1 * pi() / 180.0) + sin(lat2 * pi() / 180.0),
       |             sqrt(($c1 + bbx) * ($c1 + bbx) + bby * bby)) * 180.0 / pi(), 5) AS mlat
       |FROM b""".stripMargin
  }

  // =================================================================
  // B5: prefix (autocomplete) and fuzzy phrase match
  // =================================================================

  private val prefixes = Seq("ha", "so", "table s", "qu", "fa", "merge")

  def phrasePrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.index.PhraseDict
    // scale path: broadcast sorted dictionary + binary-search range scan
    // (carmen's dictcache autocomplete), then re-join ids by exact name
    val bc = spark.sparkContext.broadcast(PhraseDict.build(gazetteer.map(_.name)))
    prefixes.toDF("prefix")
      .select(col("prefix"),
        explode(PhraseDict.prefixMatchesCol(col("prefix"), bc)).as("name"))
      .join(broadcast(gazDf(spark)), "name")
      .select(col("prefix"), col("gid"), col("name"))
  }

  def phrasePrefixSql: String = {
    val pvals = prefixes.map(p => s"('$p')").mkString(", ")
    s"""WITH $gazCte, p(prefix) AS (VALUES $pvals)
       |SELECT p.prefix, g.gid, g.name
       |FROM p JOIN gaz g ON starts_with(g.name, p.prefix)""".stripMargin
  }

  // =================================================================
  // B5 in the forward path: autocomplete — the query's TERMINAL token is a
  // prefix; suffix windows (last 1..2 tokens, partial last) are completed
  // against the broadcast sorted phrase dictionary (binary-search range
  // scan, carmen's dictcache), candidates re-join the gazetteer by exact
  // name and rank by (covered-window relev, score). The dictionary scan is
  // the scale path: the 10^7-name dict ships once as the sorted broadcast
  // array, each query probes it in ln(n) inside the map stage.
  // =================================================================

  def fwdAutocomplete(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.PhraseDict
    val bc = spark.sparkContext.broadcast(PhraseDict.build(gazetteer.map(_.name)))
    val q = acQueriesDf(spark)
      .withColumn("toks", split(col("text"), " "))
    // suffix windows ending at the partial terminal token: length 1 (just
    // the partial) and — only when the query HAS a preceding token — length 2
    // (preceding full token + partial). Single-token queries emit only the
    // m=1 window so Spark and the SQL mirror agree explicitly (a degenerate
    // m=2 window would otherwise collapse to the bare partial here while the
    // SQL side went NULL).
    val w1 = struct(lit(1).as("m"), element_at(col("toks"), -1).as("s"))
    val w2 = struct(lit(2).as("m"),
      concat_ws(" ", element_at(col("toks"), -2), element_at(col("toks"), -1)).as("s"))
    val wins = q.select(col("qid"),
      explode(when(size(col("toks")) >= 2, array(w1, w2)).otherwise(array(w1))).as("win"))
      .select(col("qid"), col("win.m").as("m"), col("win.s").as("s"))
    wins
      .select(col("qid"), col("m"),
        explode(PhraseDict.prefixMatchesCol(col("s"), bc)).as("name"))
      .join(broadcast(gazDf(spark)), "name")
      .groupBy(col("qid"), col("gid"), col("name"), col("score"))
      .agg((max(col("m")) / lit(3.0)).as("relev"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("relev").desc, col("score").desc, col("gid").asc)))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("gid"), col("name"), col("relev"), col("rank"))
  }

  def fwdAutocompleteSql: String =
    s"""WITH $gazCte, $acQueriesCte,
       |qq AS (SELECT qid, string_split(text, ' ') AS toks FROM acq),
       |wins AS (
       |  SELECT qid, toks[len(toks)] AS s1,
       |         CASE WHEN len(toks) >= 2
       |              THEN toks[len(toks) - 1] || ' ' || toks[len(toks)] END AS s2
       |  FROM qq),
       |cand AS (
       |  SELECT w.qid, g.gid, g.name, g.score,
       |         CASE WHEN s2 IS NOT NULL AND starts_with(g.name, w.s2)
       |              THEN 2 ELSE 1 END / 3.0 AS relev
       |  FROM wins w JOIN gaz g
       |    ON starts_with(g.name, w.s1)
       |    OR (s2 IS NOT NULL AND starts_with(g.name, w.s2))),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |                               ORDER BY relev DESC, score DESC, gid ASC) AS rank
       |  FROM cand)
       |SELECT qid, gid, name, relev, rank FROM ranked WHERE rank <= 5""".stripMargin

  // =================================================================
  // B5 fuzzy × autocomplete composed: the terminal PARTIAL token may itself
  // carry one typo — a name matches a suffix window s when a name PREFIX of
  // length |s|−1..|s|+1 (min 1) is within edit distance 1 of s. Candidate
  // generation is deletion-neighborhood blocked on both sides (window's
  // deletion keys vs deletion keys of the name prefixes at those lengths —
  // carmen's degen entries are exactly such prefix keys), loss-free for the
  // ≤1-edit prefix semantics; levenshtein is only ever a verify filter.
  // =================================================================

  private def fuzzyPrefCond(name: Column, s: Column): Column =
    (levenshtein(name.substr(lit(1), greatest(length(s) - 1, lit(1))), s) <= 1) ||
      (levenshtein(name.substr(lit(1), length(s)), s) <= 1) ||
      (levenshtein(name.substr(lit(1), length(s) + 1), s) <= 1)

  private def fuzzyPrefSql(name: String, s: String): String =
    s"(levenshtein(left($name, greatest(len($s) - 1, 1)), $s) <= 1" +
      s" OR levenshtein(left($name, len($s)), $s) <= 1" +
      s" OR levenshtein(left($name, len($s) + 1), $s) <= 1)"

  def fwdAutocompleteFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val q = acQueriesDf(spark).withColumn("toks", split(col("text"), " "))
    val w1 = struct(lit(1).as("m"), element_at(col("toks"), -1).as("s"))
    val w2 = struct(lit(2).as("m"),
      concat_ws(" ", element_at(col("toks"), -2), element_at(col("toks"), -1)).as("s"))
    val wins = q.select(col("qid"),
      explode(when(size(col("toks")) >= 2, array(w1, w2)).otherwise(array(w1))).as("win"))
      .select(col("qid"), col("win.m").as("m"), col("win.s").as("s"))
    val wk = wins.withColumn("dk", explode(delKeys("s")))
    // suffix-window lengths are a static property of the frozen query
    // fixture (at scale: of the query batch — a driver-side dim agg)
    val slens = acQueries.flatMap { case (_, t) =>
      val toks = t.split(' ')
      Seq(toks.last.length) ++
        (if (toks.length >= 2) Seq(toks(toks.length - 2).length + 1 + toks.last.length)
         else Nil)
    }.distinct
    val prefLens = slens.flatMap(sl => Seq(math.max(1, sl - 1), sl, sl + 1)).distinct.sorted
    val gaz = gazDf(spark)
    val nameKeys = prefLens.map { pl =>
      gaz.select(col("gid"), col("name"), col("score"))
        .withColumn("pref", col("name").substr(lit(1), lit(pl)))
        .select(col("gid"), col("name"), col("score"), explode(delKeys("pref")).as("dk"))
    }.reduce(_ unionByName _).distinct()
    wk.join(broadcast(nameKeys), "dk")
      .filter(fuzzyPrefCond(col("name"), col("s")))
      .groupBy(col("qid"), col("gid"), col("name"), col("score"))
      .agg((max(col("m")) / lit(3.0)).as("relev"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("relev").desc, col("score").desc, col("gid").asc)))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("gid"), col("name"), col("relev"), col("rank"))
  }

  def fwdAutocompleteFuzzySql: String =
    s"""WITH $gazCte, $acQueriesCte,
       |qq AS (SELECT qid, string_split(text, ' ') AS toks FROM acq),
       |wins AS (
       |  SELECT qid, toks[len(toks)] AS s1,
       |         CASE WHEN len(toks) >= 2
       |              THEN toks[len(toks) - 1] || ' ' || toks[len(toks)] END AS s2
       |  FROM qq),
       |cand AS (
       |  SELECT w.qid, g.gid, g.name, g.score,
       |         CASE WHEN s2 IS NOT NULL AND ${fuzzyPrefSql("g.name", "w.s2")}
       |              THEN 2 ELSE 1 END / 3.0 AS relev
       |  FROM wins w JOIN gaz g
       |    ON ${fuzzyPrefSql("g.name", "w.s1")}
       |    OR (s2 IS NOT NULL AND ${fuzzyPrefSql("g.name", "w.s2")})),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |                               ORDER BY relev DESC, score DESC, gid ASC) AS rank
       |  FROM cand)
       |SELECT qid, gid, name, relev, rank FROM ranked WHERE rank <= 5""".stripMargin

  // =================================================================
  // B7: HTML → text extraction (byte-identical contract). The testdata has
  // no html column, so pages are templated from `text` deterministically;
  // the extractor must invert the template byte-for-byte. Full entity /
  // script / nesting behavior is frozen by the golden tests in TextSpec.
  // =================================================================

  /** B5 blocking: the deletion-1 neighborhood of a token as equi-join keys
    * (symmetric-delete / SymSpell construction): two strings at Levenshtein
    * distance ≤ 1 ALWAYS share a key (delete the edited position on the
    * longer/both sides), so the fuzzy join is an equi-join on the key with
    * levenshtein only as a verify filter — never a nested-loop θ-join.
    * Keys per token = length+1 (the string itself last). Native expression
    * ([[F.delKeys]]): the interpreted HOF form cost ~8 lambda evals per
    * token across millions of exploded tokens. */
  private def delKeys(c: String): Column = F.delKeys(col(c))

  /** B5+D1 fused: fuzzy mention candidates — FULL-phrase fuzzy matching
    * (carmen's fuzzy phrasematch feeding spatialmatch), both arms
    * deletion-neighborhood blocked (never a nested-loop θ-join):
    *
    *  - single-token names: doc tokens within edit distance 1 (r1 path);
    *  - multi-token names (L tokens): doc token WINDOWS of exactly L tokens
    *    with phrase levenshtein ≤ 1. For equal token counts, phrase-lev ≤ 1
    *    ⟺ at most one token differs, by ≤ 1 edit (a space edit would change
    *    the token count) — so blocking on the name's RAREST token's deletion
    *    neighborhood at its position is LOSS-FREE: the edited token still
    *    shares a deletion key, every other position shares the identity key.
    *    Window side emits keys for all L positions (it cannot know each
    *    name's blocking position); name side only for the rarest one, which
    *    bounds fan-out by the rarest token's neighborhood df. */
  def fuzzyMentions(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableIO.read(spark, s"$sfDir/documents.parquet")
    val gaz = gazDf(spark)
    // --- single-token arm ---
    val toks = docs
      .select(col("doc_id"), explode(array_distinct(F.tokenize(col("text")))).as("tok"))
      .select(col("doc_id"), col("tok"), explode(delKeys("tok")).as("dk"))
    val singles = gaz.filter(!col("name").contains(" "))
      .select(col("name"), col("gid"), explode(delKeys("name")).as("dk"))
    val singleArm = toks.join(broadcast(singles), "dk")
      .filter(levenshtein(col("tok"), col("name")) <= 1)
      .select(col("doc_id"), col("gid"))
    // --- multi-token arm ---
    val multi = gaz.filter(col("name").contains(" "))
      .withColumn("ntoks", split(col("name"), " "))
      .withColumn("len_l", size(col("ntoks")))
    val bc = spark.sparkContext.broadcast(
      graft.index.TermStats.build(freqIndex(spark, sfDir)))
    val nameSide = multi
      .withColumn("p", graft.index.TermStats.rarestIndex(col("ntoks"), bc))
      .withColumn("btok", element_at(col("ntoks"), col("p") + 1))
      .select(col("gid"), col("name"), col("len_l"), col("p"),
        explode(delKeys("btok")).as("dk"))
    // distinct multi-name lengths: a static dictionary property, like
    // maxNameTokens (dim-sized driver agg, not a corpus job)
    val lengths = multi.select(col("len_l")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // All lengths' windows in ONE native pass per doc, deduped in-row (a
    // window string uniquely determines its tokens and length, since tokens
    // contain no spaces, so per-row distinctness equals the per (doc_id, w)
    // dedup). Replaces per-length unions (L scans + L tokenize passes) and
    // a full dropDuplicates SHUFFLE of every window row with zero exchanges
    // before the broadcast join.
    val wins = docs
      .select(col("doc_id"), explode(F.windowStrings(col("text"), lengths)).as("w"))
      .withColumn("wtoks", split(col("w"), " "))
      .withColumn("len_l", size(col("wtoks")))
    val winKeys = wins
      .withColumn("p", explode(sequence(lit(0), col("len_l") - 1)))
      .withColumn("btok", element_at(col("wtoks"), col("p") + 1))
      .select(col("doc_id"), col("w"), col("len_l"), col("p"),
        explode(delKeys("btok")).as("dk"))
    val multiArm = winKeys.join(broadcast(nameSide), Seq("dk", "len_l", "p"))
      .filter(levenshtein(col("w"), col("name")) <= 1)
      .select(col("doc_id"), col("gid"))
    singleArm.unionByName(multiArm).distinct()
  }

  def fuzzyMentionsSql: String =
    s"""WITH $gazCte,
       |t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |      FROM documents),
       |single AS (
       |  SELECT t.doc_id, g.gid
       |  FROM t JOIN gaz g ON NOT contains(g.name, ' ')
       |                 AND levenshtein(t.tok, g.name) <= 1),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |lens AS (SELECT DISTINCT len(string_split(name, ' ')) AS len_l
       |         FROM gaz WHERE contains(name, ' ')),
       |wins AS (
       |  SELECT DISTINCT d.doc_id, l.len_l,
       |         unnest(list_transform(
       |           generate_series(1, greatest(len(d.toks) - l.len_l + 1, 0)),
       |           k -> array_to_string(list_slice(d.toks, k, k + l.len_l - 1), ' '))) AS w
       |  FROM d, lens l),
       |multi AS (
       |  SELECT w.doc_id, g.gid
       |  FROM wins w JOIN gaz g ON contains(g.name, ' ')
       |                        AND len(string_split(g.name, ' ')) = w.len_l
       |                        AND levenshtein(w.w, g.name) <= 1)
       |SELECT DISTINCT doc_id, gid
       |FROM (SELECT * FROM single UNION ALL SELECT * FROM multi)""".stripMargin

  // =================================================================
  // Input-hint contract (BASELINE.json): pages arrive as
  // (url, warc_ts, html binary, text, lang); the engine consumes the html
  // and must reproduce byte-identical extracted text per url. This query
  // materializes that exact shape from the testdata and runs the B7+B2
  // chain over it: url-keyed extraction + token count.
  // =================================================================

  def pagePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val html = concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><p>"), col("text"), lit("</p></body></html>"))
    TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(
        concat(lit("https://example.org/doc/"), col("doc_id").cast("string")).as("url"),
        timestamp_seconds(lit(1767225600L) + col("doc_id") * 7).as("warc_ts"),
        encode(html, "UTF-8").as("html"),
        col("text"), col("lang"))
      .select(col("url"), F.extractText(col("html")).as("extracted"), col("lang"))
      .withColumn("n_tok", size(F.tokenize(col("extracted"))).cast("long"))
  }

  def pagePipelineSql: String =
    s"""SELECT 'https://example.org/doc/' || doc_id AS url,
       |       'Doc ' || doc_id || chr(10) || text AS extracted,
       |       lang,
       |       CAST(len(string_split(text, ' ')) + 2 AS BIGINT) AS n_tok
       |FROM documents""".stripMargin

  def extractTextQ(spark: SparkSession, sfDir: String): DataFrame = {
    val html = concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title></head><body><p>"), col("text"), lit("</p></body></html>"))
    TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), F.extractText(encode(html, "UTF-8")).as("extracted"))
  }

  def extractTextQSql: String =
    s"SELECT doc_id, 'Doc ' || doc_id || chr(10) || text AS extracted FROM documents"

  // =================================================================
  // Page geotagging: assign each page ONE location from its place/region
  // mentions — score-weighted centroid of the mention coordinates plus the
  // top-scoring mention as the page's primary feature. The centroid is the
  // cross-engine trap: a double Σ(w·lon) is accumulation-order-dependent,
  // so both engines quantize mention coords to micro-degree BIGINTs
  // (round(x·1e6) of IDENTICAL doubles — both engines round half away
  // from zero) and sum integers; only the final division touches doubles,
  // token-identically. argmax(score, gid) rides the same aggregate as one
  // packed BIGINT (no join-back, no second pass). Scale: mentions are the
  // existing broadcast/shuffle-fallback matcher; the aggregate is one
  // map-combined doc_id groupBy — nothing here holds more than a page's
  // own mentions in memory.
  // =================================================================

  def pageGeotag(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Geocode.mentions(docPages(spark, sfDir), gazDf(spark), extraCols = Seq())
      .select(col("doc_id"), col("gid"), col("score"), col("glon"), col("glat"))
      .dropDuplicates("doc_id", "gid")
      .withColumn("wt", col("score").cast("long"))
      .withColumn("ulon", round(col("glon") * lit(1000000.0), 0).cast("long"))
      .withColumn("ulat", round(col("glat") * lit(1000000.0), 0).cast("long"))
    val agg = m.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_mentions"),
      sum(col("wt")).as("sum_w"),
      sum(col("wt") * col("ulon")).as("swlon"),
      sum(col("wt") * col("ulat")).as("swlat"),
      max(col("wt") * lit(10000000L) + (lit(10000000L) - col("gid"))).as("ord"))
    val c = agg
      .withColumn("top_gid", lit(10000000L) - col("ord") % lit(10000000L))
      .withColumn("clon",
        col("swlon").cast("double") / (col("sum_w").cast("double") * lit(1000000.0)))
      .withColumn("clat",
        col("swlat").cast("double") / (col("sum_w").cast("double") * lit(1000000.0)))
    c.select(col("doc_id"), col("n_mentions"), col("top_gid"),
      round(col("clon"), 6).as("clon_r"), round(col("clat"), 6).as("clat_r"),
      F.cellAt(lit(8), col("clon"), col("clat")).as("cell8"))
  }

  def pageGeotagSql: String =
    s"""WITH ${gazCte},
       |docs AS (${docPagesSql}),
       |m AS (
       |  SELECT d.doc_id, g.gid, CAST(g.score AS BIGINT) AS wt,
       |         CAST(round(CAST(g.glon AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ulon,
       |         CAST(round(CAST(g.glat AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ulat
       |  FROM docs d JOIN gaz g ON contains(' ' || d.text || ' ', ' ' || g.name || ' ')),
       |a AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_mentions,
       |         CAST(sum(wt) AS BIGINT) AS sum_w,
       |         CAST(sum(wt * ulon) AS BIGINT) AS swlon,
       |         CAST(sum(wt * ulat) AS BIGINT) AS swlat,
       |         CAST(max(wt * 10000000 + (10000000 - gid)) AS BIGINT) AS ord
       |  FROM m GROUP BY 1),
       |c AS (
       |  SELECT doc_id, n_mentions, 10000000 - ord % 10000000 AS top_gid,
       |         CAST(swlon AS DOUBLE) / (CAST(sum_w AS DOUBLE) * 1000000.0) AS clon,
       |         CAST(swlat AS DOUBLE) / (CAST(sum_w AS DOUBLE) * 1000000.0) AS clat
       |  FROM a)
       |SELECT doc_id, n_mentions, top_gid,
       |       round(clon, 6) AS clon_r, round(clat, 6) AS clat_r,
       |       ${cellSql(8, "clon", "clat")} AS cell8
       |FROM c""".stripMargin

  // =================================================================
  // Toponym disambiguation (context coherence): for each AMBIGUOUS mention
  // (a name with >1 gazetteer candidate — the "Paris, Texas" problem) pick
  // the candidate nearest the page's anchor centroid, where the anchors are
  // the page's UNAMBIGUOUS mentions; pages with no anchors fall back to the
  // page proximity point. Anchor sums ride a doc_id WINDOW over the mention
  // frame (per-page mention counts are gazetteer-bounded, so the hot-key
  // carve-out doesn't apply) — the candidate ranking window then reuses the
  // same doc_id exchange (partition keys are a superset). The haversine
  // ranking key stays unrounded with a gid tiebreak; only the reported
  // distance is rounded.
  // =================================================================

  def toponymResolve(spark: SparkSession, sfDir: String): DataFrame = {
    val gazA = ambGazDf(spark)
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("name")))
    val m = Geocode.mentions(docPages(spark, sfDir), gazA)
      .select(col("doc_id"), col("qlon"), col("qlat"), col("gid"), col("name"),
        col("glon"), col("glat"), col("n_cand"))
      .dropDuplicates("doc_id", "gid")
      .withColumn("ulon", round(col("glon") * lit(1000000.0), 0).cast("long"))
      .withColumn("ulat", round(col("glat") * lit(1000000.0), 0).cast("long"))
    val wd = Window.partitionBy("doc_id")
    val wa = m
      .withColumn("n_anchors",
        sum(when(col("n_cand") === 1, lit(1L)).otherwise(lit(0L))).over(wd))
      .withColumn("sl", sum(when(col("n_cand") === 1, col("ulon"))).over(wd))
      .withColumn("st", sum(when(col("n_cand") === 1, col("ulat"))).over(wd))
    val rf = wa.filter(col("n_cand") > 1)
      .withColumn("rlon", when(col("n_anchors") > 0,
        col("sl").cast("double") / (col("n_anchors").cast("double") * lit(1000000.0)))
        .otherwise(col("qlon")))
      .withColumn("rlat", when(col("n_anchors") > 0,
        col("st").cast("double") / (col("n_anchors").cast("double") * lit(1000000.0)))
        .otherwise(col("qlat")))
      .withColumn("d", F.haversineKm(col("rlon"), col("rlat"), col("glon"), col("glat")))
    val wr = Window.partitionBy("doc_id", "name").orderBy(col("d").asc, col("gid").asc)
    rf.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("doc_id"), col("name"), col("gid").as("feature_id"),
        col("n_anchors"), round(col("d"), 4).as("dist_km"))
  }

  def toponymResolveSql: String =
    s"""WITH ${ambGazCte},
       |gc AS (
       |  SELECT *, CAST(count(*) OVER (PARTITION BY name) AS BIGINT) AS n_cand
       |  FROM gaza),
       |docs AS (${docPagesSql}),
       |m AS (
       |  SELECT d.doc_id, d.qlon, d.qlat, g.gid, g.name, g.glon, g.glat, g.n_cand,
       |         CAST(round(CAST(g.glon AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ulon,
       |         CAST(round(CAST(g.glat AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS ulat
       |  FROM docs d JOIN gc g ON contains(' ' || d.text || ' ', ' ' || g.name || ' ')),
       |wa AS (
       |  SELECT *,
       |    CAST(sum(CASE WHEN n_cand = 1 THEN 1 ELSE 0 END)
       |         OVER (PARTITION BY doc_id) AS BIGINT) AS n_anchors,
       |    CAST(sum(CASE WHEN n_cand = 1 THEN ulon END)
       |         OVER (PARTITION BY doc_id) AS BIGINT) AS sl,
       |    CAST(sum(CASE WHEN n_cand = 1 THEN ulat END)
       |         OVER (PARTITION BY doc_id) AS BIGINT) AS st
       |  FROM m),
       |rf AS (
       |  SELECT *,
       |    CASE WHEN n_anchors > 0
       |         THEN CAST(sl AS DOUBLE) / (CAST(n_anchors AS DOUBLE) * 1000000.0)
       |         ELSE qlon END AS rlon,
       |    CASE WHEN n_anchors > 0
       |         THEN CAST(st AS DOUBLE) / (CAST(n_anchors AS DOUBLE) * 1000000.0)
       |         ELSE qlat END AS rlat
       |  FROM wa WHERE n_cand > 1),
       |sc AS (
       |  SELECT doc_id, name, gid, n_anchors,
       |         ${haversineSql("rlon", "rlat", "glon", "glat")} AS d
       |  FROM rf),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id, name
       |                               ORDER BY d ASC, gid ASC) AS rn
       |  FROM sc)
       |SELECT doc_id, name, gid AS feature_id, n_anchors, round(d, 4) AS dist_km
       |FROM rk WHERE rn = 1""".stripMargin

  // =================================================================
  // Host link graph: each page's synthesized HTML carries real anchor
  // tags (seeded from doc_id arithmetic); the OPERATOR extracts hrefs
  // from the html bytes (codegen'd regexp over the decoded markup),
  // parses out hosts, and aggregates host→host edge weights. The oracle
  // recomputes the edge set from the seeding arithmetic directly — a
  // wrong extractor (missed tag, host mis-parse) changes edges and fails
  // the hash. Scale: extraction is per-row inside whole-stage codegen;
  // the aggregate is a map-combined groupBy on a host-pair key space
  // that stays dim-sized (≤97²) regardless of corpus size.
  // =================================================================

  def linkGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableIO.read(spark, s"$sfDir/documents.parquet").select("doc_id")
    val html = concat(
      lit("<html><body>"),
      concat_ws("", transform(sequence(lit(1), lit(3)), j =>
        concat(lit("<a href=\"https://h"),
          ((col("doc_id") * 31 + j * 17) % 97).cast("string"),
          lit(".example.org/p/"), (col("doc_id") * 7 + j).cast("string"),
          lit("\">x</a>")))),
      lit("</body></html>"))
    val pages = docs.select(
      concat(lit("https://h"), (col("doc_id") % 97).cast("string"),
        lit(".example.org/d/"), col("doc_id").cast("string")).as("url"),
      encode(html, "UTF-8").as("html"))
    pages
      .select(col("url"),
        explode(regexp_extract_all(decode(col("html"), "UTF-8"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))
      .select(
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("src_host"),
        regexp_extract(col("href"), "^https://([^/]+)/", 1).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
  }

  def linkGraphSql: String =
    s"""WITH l AS (
       |  SELECT 'h' || (doc_id % 97) || '.example.org' AS src_host,
       |         'h' || ((doc_id * 31 + j * 17) % 97) || '.example.org' AS dst_host
       |  FROM (SELECT doc_id, unnest(generate_series(1, 3)) AS j FROM documents))
       |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
       |FROM l GROUP BY 1, 2""".stripMargin

  // =================================================================
  // Median center (geometric median per event type, Weiszfeld '37 — the
  // robust companion to std_ellipse in the centrography toolbox): 3
  // fixed Weiszfeld iterations from the integer mean center. Every
  // iteration's per-point terms 10⁹/d and 10⁹·x/d are QUANTIZED TO
  // BIGINT before summing (order-independent; sums widen to
  // DECIMAL(38,0)/HUGEINT), the new center is one integer division, and
  // the d = 0 coincidence point drops out via an EXACT integer d² gate
  // — so the unrolled-CTE oracle replays the iteration bit-for-bit (the
  // cellPagerank/embed_kmeans discipline). Per round: one broadcast of
  // the 5-row center dim + one map-combined type aggregation.
  // =================================================================

  private val WzScale = 1000000000L // 1e9 weight quantum

  def medianCenter(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val pts = events(spark, sfDir)
      .select(col("event_type"),
        evLattice.x.res(col("event_id")).as("xs"),
        evLattice.y.res(col("event_id")).as("ys"))
      .persist() // read by the init mean + every Weiszfeld round
    var ctr = pts.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(xs) div count(*) AS BIGINT)").as("cx"),
        expr("CAST(sum(ys) div count(*) AS BIGINT)").as("cy"))
      .localCheckpoint()
    for (_ <- 1 to 3) {
      ctr = pts.join(broadcast(ctr), "event_type")
        .withColumn("d2", expr("(xs - cx) * (xs - cx) + (ys - cy) * (ys - cy)"))
        .withColumn("wq", expr(
          s"IF(d2 = 0, CAST(0 AS BIGINT), CAST(round($WzScale.0 / sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT))"))
        .withColumn("wxq", expr(
          s"IF(d2 = 0, CAST(0 AS BIGINT), CAST(round(xs * $WzScale.0 / sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT))"))
        .withColumn("wyq", expr(
          s"IF(d2 = 0, CAST(0 AS BIGINT), CAST(round(ys * $WzScale.0 / sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT))"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          sum(d(col("wxq"))).as("swx"), sum(d(col("wyq"))).as("swy"),
          sum(d(col("wq"))).as("sw"))
        .select(col("event_type"), col("n"),
          expr("CAST(swx div sw AS BIGINT)").as("cx"),
          expr("CAST(swy div sw AS BIGINT)").as("cy"))
        .localCheckpoint()
    }
    ctr.select(col("event_type"), col("n"),
      (col("cx") - 180000).as("cx"), (col("cy") - 80000).as("cy"))
  }

  def medianCenterSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""w$i AS (
         |  SELECT p.event_type, c.n,
         |         CASE WHEN (p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) = 0
         |              THEN CAST(0 AS BIGINT)
         |              ELSE CAST(round($WzScale.0 / sqrt(CAST((p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) AS DOUBLE)), 0) AS BIGINT) END AS wq,
         |         CASE WHEN (p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) = 0
         |              THEN CAST(0 AS BIGINT)
         |              ELSE CAST(round(p.xs * $WzScale.0 / sqrt(CAST((p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) AS DOUBLE)), 0) AS BIGINT) END AS wxq,
         |         CASE WHEN (p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) = 0
         |              THEN CAST(0 AS BIGINT)
         |              ELSE CAST(round(p.ys * $WzScale.0 / sqrt(CAST((p.xs - c.cx) * (p.xs - c.cx) + (p.ys - c.cy) * (p.ys - c.cy) AS DOUBLE)), 0) AS BIGINT) END AS wyq
         |  FROM pts p JOIN c${i - 1} c ON p.event_type = c.event_type),
         |c$i AS MATERIALIZED (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |         CAST(sum(wxq) // sum(wq) AS BIGINT) AS cx,
         |         CAST(sum(wyq) // sum(wq) AS BIGINT) AS cy
         |  FROM w$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT event_type,
       |         ${evLattice.x.resSql("event_id")} AS xs,
       |         ${evLattice.y.resSql("event_id")} AS ys
       |  FROM events),
       |c0 AS MATERIALIZED (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(xs) // count(*) AS BIGINT) AS cx,
       |         CAST(sum(ys) // count(*) AS BIGINT) AS cy
       |  FROM pts GROUP BY 1),
       |$rounds
       |SELECT event_type, n, cx - 180000 AS cx, cy - 80000 AS cy
       |FROM c3""".stripMargin
  }

  // =================================================================
  // Changed-tile diff (the incremental-view-maintenance primitive of a
  // tile pipeline: which cells must re-render between two snapshots?):
  // the event stream splits at its midpoint timestamp (1-row broadcast,
  // exact integer midpoint) into consecutive batches A and B; per-z6-
  // cell counts FULL-OUTER join on cell and cells with a nonzero delta
  // emit (cnt_a, cnt_b, delta). Two map-combined aggregations + one
  // cell-keyed join — at 10^12 events the two sides are snapshot
  // manifests, and the diff output is exactly the re-render worklist.
  // =================================================================

  def tileDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = events(spark, sfDir)
      .select(col("us"),
        F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))).as("cell"))
    val st = base.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val cut = base.crossJoin(broadcast(st))
      .withColumn("half", expr("(mn + mx + 1) div 2")).persist() // both sides
    val a = cut.filter(col("us") < col("half"))
      .groupBy("cell").agg(count(lit(1)).as("cnt_a"))
    val b = cut.filter(col("us") >= col("half"))
      .groupBy("cell").agg(count(lit(1)).as("cnt_b"))
    a.join(b, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .withColumn("delta", col("cnt_b") - col("cnt_a"))
      .filter(col("delta") =!= 0)
  }

  def tileDiffSql: String =
    s"""WITH pts AS (SELECT $evUsSql AS us,
       |               ${cellSql(6, s"($evLonSql)", s"($evLatSql)")} AS cell
       |             FROM events),
       |st AS (SELECT min(us) AS mn, max(us) AS mx FROM pts),
       |cut AS (SELECT cell, us, (mn + mx + 1) // 2 AS half
       |        FROM pts CROSS JOIN st),
       |a AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt_a
       |      FROM cut WHERE us < half GROUP BY 1),
       |b AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt_b
       |      FROM cut WHERE us >= half GROUP BY 1),
       |d AS (SELECT coalesce(a.cell, b.cell) AS cell,
       |             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
       |      FROM a FULL OUTER JOIN b ON a.cell = b.cell)
       |SELECT cell, cnt_a, cnt_b, cnt_b - cnt_a AS delta
       |FROM d WHERE cnt_b - cnt_a <> 0""".stripMargin

  // =================================================================
  // Per-host geographic profile (the webtext×geo composition stat: how
  // spread out is each host's content?): over each host's pages'
  // proximity points, the exact integer centroid and the CLEARED-
  // DENOMINATOR dispersion disp_q = n·Σ(x²+y²) − (Σx)² − (Σy)²
  // (= n² × coordinate variance sum — no centroid subtraction, no
  // division, no doubles anywhere). Sums accumulate as DECIMAL(38,0)/
  // HUGEINT (n·Σx² passes 2⁶³ once a host holds ~10⁵ pages — the
  // gravity_fit widening, load-bearing); the milli-lattice shift keeps
  // the centroid divisions on non-negative operands (div ≡ //). One
  // map-combined host exchange, dim-sized output.
  // =================================================================

  def hostGeo(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        expr("concat('h', CAST(doc_id % 97 AS STRING), '.example.org')").as("host"),
        docLattice.x.res(col("doc_id")).as("xs"),
        docLattice.y.res(col("doc_id")).as("ys"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("xs"))).as("sx"), sum(d(col("ys"))).as("sy"),
        sum(d(col("xs")) * d(col("xs")) + d(col("ys")) * d(col("ys"))).as("s2"))
      .select(col("host"), col("n"),
        expr("CAST(sx div n AS BIGINT) - 180000").as("cx"),
        expr("CAST(sy div n AS BIGINT) - 70000").as("cy"),
        expr("CAST(n * s2 - sx * sx - sy * sy AS BIGINT)").as("disp_q"))
  }

  def hostGeoSql: String =
    s"""WITH p AS (
       |  SELECT 'h' || (doc_id % 97) || '.example.org' AS host,
       |         ${docLattice.x.resSql("doc_id")} AS xs,
       |         ${docLattice.y.resSql("doc_id")} AS ys
       |  FROM documents),
       |a AS (SELECT host, CAST(count(*) AS BIGINT) AS n,
       |             sum(xs) AS sx, sum(ys) AS sy,
       |             sum(xs * xs + ys * ys) AS s2
       |      FROM p GROUP BY 1)
       |SELECT host, n,
       |       CAST(sx // n AS BIGINT) - 180000 AS cx,
       |       CAST(sy // n AS BIGINT) - 70000 AS cy,
       |       CAST(n * s2 - sx * sx - sy * sy AS BIGINT) AS disp_q
       |FROM a""".stripMargin

  // =================================================================
  // Ordered funnel analysis (view → click → signup → purchase): per
  // user, the time of the first step-k event STRICTLY AFTER the
  // completed step k−1 and WITHIN the 12-hour conversion window — the
  // canonical product-analytics funnel with ordered semantics (without
  // the window every synthetic user converts and depth is vacuous). The engine runs it as ONE user-keyed fold over
  // the time-sorted event array (the stay_points shape); the oracle is
  // the equivalent chain of filtered MIN aggregates (first-in-time-
  // order ≡ min us over the qualifying set; strict > on integer
  // microseconds decides equal-timestamp ties identically on both
  // sides). Missing steps encode as −1, never NULL — nullable BIGINTs
  // round-trip the compare as float64 and invite 2^53 hazards.
  // =================================================================

  private val FunnelSteps = Seq("view", "click", "signup", "purchase")
  private val FunnelWinUs = 43200000000L // 12 h conversion window per step

  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val step = (k: Int, prev: String) =>
      s"IF(p.event_type = '${FunnelSteps(k)}' AND $prev <> -1 AND s.t${k + 1} = -1 " +
        s"AND p.us > $prev AND p.us <= $prev + $FunnelWinUs, p.us, s.t${k + 1})"
    events(spark, sfDir)
      .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("us"), col("event_id"), col("event_type")))).as("pts"))
      .withColumn("f", expr(
        s"""aggregate(pts,
           |  named_struct('t1', CAST(-1 AS BIGINT), 't2', CAST(-1 AS BIGINT),
           |               't3', CAST(-1 AS BIGINT), 't4', CAST(-1 AS BIGINT)),
           |  (s, p) -> named_struct(
           |    't1', IF(p.event_type = 'view' AND s.t1 = -1, p.us, s.t1),
           |    't2', ${step(1, "s.t1")},
           |    't3', ${step(2, "s.t2")},
           |    't4', ${step(3, "s.t3")}))""".stripMargin))
      .select(col("user_id"),
        col("f.t1").as("t1"), col("f.t2").as("t2"),
        col("f.t3").as("t3"), col("f.t4").as("t4"))
      .withColumn("depth", expr(
        "CASE WHEN t4 <> -1 THEN CAST(4 AS BIGINT) WHEN t3 <> -1 THEN 3 " +
          "WHEN t2 <> -1 THEN 2 WHEN t1 <> -1 THEN 1 ELSE 0 END"))
  }

  def funnelStepsSql: String =
    s"""WITH ev AS (SELECT user_id, $evUsSql AS us, event_type FROM events),
       |u1 AS (SELECT user_id,
       |         CAST(coalesce(min(us) FILTER (WHERE event_type = 'view'), -1) AS BIGINT) AS t1
       |       FROM ev GROUP BY 1),
       |u2 AS (SELECT ev.user_id, u1.t1,
       |         CAST(coalesce(min(us) FILTER (WHERE event_type = 'click'
       |                                       AND u1.t1 <> -1 AND us > u1.t1
       |                                       AND us <= u1.t1 + $FunnelWinUs), -1) AS BIGINT) AS t2
       |       FROM ev JOIN u1 ON ev.user_id = u1.user_id GROUP BY 1, 2),
       |u3 AS (SELECT ev.user_id, u2.t1, u2.t2,
       |         CAST(coalesce(min(us) FILTER (WHERE event_type = 'signup'
       |                                       AND u2.t2 <> -1 AND us > u2.t2
       |                                       AND us <= u2.t2 + $FunnelWinUs), -1) AS BIGINT) AS t3
       |       FROM ev JOIN u2 ON ev.user_id = u2.user_id GROUP BY 1, 2, 3),
       |u4 AS (SELECT ev.user_id, u3.t1, u3.t2, u3.t3,
       |         CAST(coalesce(min(us) FILTER (WHERE event_type = 'purchase'
       |                                       AND u3.t3 <> -1 AND us > u3.t3
       |                                       AND us <= u3.t3 + $FunnelWinUs), -1) AS BIGINT) AS t4
       |       FROM ev JOIN u3 ON ev.user_id = u3.user_id GROUP BY 1, 2, 3, 4)
       |SELECT user_id, t1, t2, t3, t4,
       |       CASE WHEN t4 <> -1 THEN CAST(4 AS BIGINT) WHEN t3 <> -1 THEN 3
       |            WHEN t2 <> -1 THEN 2 WHEN t1 <> -1 THEN 1 ELSE 0 END AS depth
       |FROM u4""".stripMargin

  // =================================================================
  // Per-origin-cell transition entropy (second-order mobility
  // predictability): Shannon entropy of each origin cell's outgoing
  // OD distribution — the user_entropy discipline applied to the
  // od_flows matrix: per-destination −p·ln p terms quantized to
  // INTEGER nano-nats before the origin sum; the origin total windows
  // over the (o,d) aggregate, REUSING its exchange.
  // =================================================================

  def transEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_cell"))
    odFlows(spark, sfDir)
      .withColumn("n", sum(col("flows")).over(w))
      .withColumn("hq", expr(
        "CAST(round(-(CAST(flows AS DOUBLE) / n) * ln(CAST(flows AS DOUBLE) / n) * 1000000000.0, 0) AS BIGINT)"))
      .groupBy(col("o_cell"))
      .agg(max(col("n")).as("n_out"), count(lit(1)).as("n_dst"),
        sum(col("hq")).as("ent_q"))
  }

  def transEntropySql: String =
    s"""WITH ${odFlowCtes(loops = true)},
       |wn AS (SELECT o_cell, flows,
       |         CAST(sum(flows) OVER (PARTITION BY o_cell) AS BIGINT) AS n
       |       FROM edges),
       |ht AS (SELECT o_cell, n,
       |         CAST(round(-(CAST(flows AS DOUBLE) / n) * ln(CAST(flows AS DOUBLE) / n) * 1000000000.0, 0) AS BIGINT) AS hq
       |       FROM wn)
       |SELECT o_cell, CAST(max(n) AS BIGINT) AS n_out,
       |       CAST(count(*) AS BIGINT) AS n_dst, CAST(sum(hq) AS BIGINT) AS ent_q
       |FROM ht GROUP BY 1""".stripMargin

  // =================================================================
  // Day-of-week seasonality per cell (the temporal-profile op of the
  // space-time cube): per-z6-cell visit counts by day of week plus a
  // uniformity chi-square statistic with CLEARED DENOMINATORS —
  // chi_q = Σ_d (7·o_d − n)², an EXACT BIGINT (χ² = chi_q/(49·n/7);
  // the caller divides — no engine division ever happens), missing
  // days counting o_d = 0 via the 7-slot dense array. One (cell,dow)
  // exchange + one cell exchange, both map-combined skinny.
  // =================================================================

  def dowProfile(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))).as("cell"),
        expr("(us div 86400000000 + 4) % 7").as("dow"))
      .groupBy(col("cell"), col("dow")).agg(count(lit(1)).as("o"))
      .groupBy("cell")
      .agg(collect_list(struct(col("dow"), col("o"))).as("kv"), sum(col("o")).as("n"))
      .withColumn("arr", expr(
        "transform(sequence(0, 6), i -> coalesce(try_element_at(map_from_entries(kv), CAST(i AS BIGINT)), CAST(0 AS BIGINT)))"))
      .withColumn("chi_q", expr(
        "aggregate(arr, CAST(0 AS BIGINT), (a, o) -> a + (7 * o - n) * (7 * o - n))"))
      .select(col("cell"), col("n"), col("chi_q"))
  }

  def dowProfileSql: String =
    s"""WITH ev AS (SELECT ${cellSql(6, s"($evLonSql)", s"($evLatSql)")} AS cell,
       |              ($evUsSql // 86400000000 + 4) % 7 AS dow
       |            FROM events),
       |oc AS MATERIALIZED (
       |  SELECT cell, dow, CAST(count(*) AS BIGINT) AS o FROM ev GROUP BY 1, 2),
       |grid AS (SELECT c.cell, gs.dow
       |         FROM (SELECT DISTINCT cell FROM oc) c,
       |              (SELECT unnest(generate_series(0, 6)) AS dow) gs),
       |dense AS (SELECT g.cell,
       |            list(coalesce(oc.o, 0) ORDER BY g.dow) AS arr,
       |            CAST(sum(coalesce(oc.o, 0)) AS BIGINT) AS n
       |          FROM grid g LEFT JOIN oc ON g.cell = oc.cell AND g.dow = oc.dow
       |          GROUP BY g.cell)
       |SELECT cell, n,
       |       CAST(list_sum(list_transform(arr, o -> (7 * o - n) * (7 * o - n))) AS BIGINT) AS chi_q
       |FROM dense""".stripMargin

  // =================================================================
  // Term co-occurrence PMI (the phrase-mining / collocation op of NLP
  // curation): unordered pairs from each doc's FIRST 10 TOKENS (the
  // bounded-fanout window — 45 pairs/doc flat at any corpus size),
  // PMI = ln(n_docs·c_xy / (c_x·c_y)) over doc-level incidence
  // counts. All counts are exact integers; the PMI double is
  // token-identical and round(…,6)-quantized for OUTPUT while the
  // ranking stays on the unrounded key with the pair tiebreak (repo
  // invariant). Marginals attach via broadcast (the distinct-term dim
  // is vocabulary-bounded); pairs with c_xy < 3 pruned before any
  // wide work. Top-50 global — a dim-sized WindowGroupLimit.
  // =================================================================

  def pmiPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr("slice(split(text, ' '), 1, 10)").as("toks"))
      .select(col("doc_id"), array_distinct(col("toks")).as("toks"))
      .persist() // pair explode + marginal counts
    val nDocs = docs.count()
    val pairs = docs
      .select(col("doc_id"), explode(expr(
        "flatten(transform(toks, (x, i) -> transform(slice(toks, i + 2, size(toks)), y -> " +
          "IF(x < y, named_struct('a', x, 'b', y), named_struct('a', y, 'b', x)))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 3)
    val terms = docs.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val w = Window.orderBy(col("pmi").desc, col("a").asc, col("b").asc)
    pairs
      .join(broadcast(terms.withColumnRenamed("t", "a").withColumnRenamed("ct", "ca")), "a")
      .join(broadcast(terms.withColumnRenamed("t", "b").withColumnRenamed("ct", "cb")), "b")
      .withColumn("pmi", expr(
        s"ln(CAST($nDocs AS DOUBLE) * cxy / (CAST(ca AS DOUBLE) * cb))"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 50)
      .select(col("a"), col("b"), col("cxy"), col("ca"), col("cb"),
        round(col("pmi"), 6).as("pmi_r"), col("rnk"))
  }

  def pmiPairsSql: String =
    s"""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')[1:10]) AS toks
       |           FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
       |pr AS (
       |  SELECT CASE WHEN x < y THEN x ELSE y END AS a,
       |         CASE WHEN x < y THEN y ELSE x END AS b
       |  FROM (
       |    SELECT u.x, unnest(toks[u.i + 1:len(toks)]) AS y
       |    FROM (SELECT toks, unnest(list_transform(generate_series(1, len(toks)),
       |                        i -> struct_pack(x := toks[i], i := i))) AS u
       |          FROM d))),
       |cp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cxy
       |       FROM pr GROUP BY 1, 2 HAVING count(*) >= 3),
       |tm AS MATERIALIZED (
       |  SELECT t, CAST(count(*) AS BIGINT) AS ct
       |  FROM (SELECT unnest(toks) AS t FROM d) GROUP BY 1),
       |sc AS (
       |  SELECT cp.a, cp.b, cp.cxy, ta.ct AS ca, tb.ct AS cb,
       |         ln(CAST(n_docs AS DOUBLE) * cxy / (CAST(ta.ct AS DOUBLE) * tb.ct)) AS pmi
       |  FROM cp JOIN tm ta ON cp.a = ta.t JOIN tm tb ON cp.b = tb.t
       |  CROSS JOIN nd),
       |rk AS (SELECT a, b, cxy, ca, cb, round(pmi, 6) AS pmi_r,
       |         CAST(row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS BIGINT) AS rnk
       |       FROM sc)
       |SELECT a, b, cxy, ca, cb, pmi_r, rnk FROM rk WHERE rnk <= 50""".stripMargin

  // =================================================================
  // Anchor-text aggregation (the classic web-ranking signal): every
  // page's anchors carry a label word drawn from ITS OWN text; the
  // OPERATOR parses (href, label) pairs out of the html bytes
  // (per-tag regexp inside whole-stage codegen), aggregates label
  // counts per TARGET host, and keeps each host's top-3 labels. The
  // oracle never parses html — it recomputes the labels from the
  // anchor-seeding arithmetic, so a wrong extractor (missed tag,
  // label/host mis-parse) changes counts and fails the hash (the
  // link_graph discipline). Scale: extraction is per-row; the
  // (host, label) key space is dim-sized; the top-3 window runs on
  // the post-aggregate dim, not the corpus.
  // =================================================================

  def anchorText(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableIO.read(spark, s"$sfDir/documents.parquet").select("doc_id", "text")
    val html = concat(
      lit("<html><body>"),
      concat_ws("", transform(sequence(lit(1), lit(3)), j =>
        concat(lit("<a href=\"https://h"),
          ((col("doc_id") * 31 + j * 17) % 97).cast("string"),
          lit(".example.org/p/"), (col("doc_id") * 7 + j).cast("string"),
          lit("\">"),
          element_at(split(col("text"), " "),
            ((col("doc_id") + j) % 5 + 1).cast("int")),
          lit("</a>")))),
      lit("</body></html>"))
    val tagged = docs.select(encode(html, "UTF-8").as("html"))
      .select(explode(regexp_extract_all(decode(col("html"), "UTF-8"),
        lit("<a href=\"[^\"]+\">[^<]*</a>"), lit(0))).as("tag"))
      .select(
        regexp_extract(col("tag"), "href=\"https://([^/]+)/", 1).as("dst_host"),
        regexp_extract(col("tag"), ">([^<]*)<", 1).as("label"))
    val counts = tagged.groupBy(col("dst_host"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("dst_host")).orderBy(col("n").desc, col("label").asc)
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("dst_host"), col("label"), col("n"), col("rnk"))
  }

  def anchorTextSql: String =
    s"""WITH l AS (
       |  SELECT 'h' || ((doc_id * 31 + j * 17) % 97) || '.example.org' AS dst_host,
       |         split_part(text, ' ', CAST((doc_id + j) % 5 + 1 AS INT)) AS label
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, 3)) AS j FROM documents)),
       |c AS (SELECT dst_host, label, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY 1, 2),
       |r AS (SELECT dst_host, label, n,
       |        CAST(row_number() OVER (PARTITION BY dst_host
       |                                ORDER BY n DESC, label ASC) AS BIGINT) AS rnk
       |      FROM c)
       |SELECT dst_host, label, n, rnk FROM r WHERE rnk <= 3""".stripMargin

  // =================================================================
  // Per-user mobility entropy (the predictability statistic of human-
  // mobility analysis): Shannon entropy of each user's z6 cell-visit
  // distribution. Per-cell terms −p·ln(p) are quantized to INTEGER
  // nano-nats BEFORE the per-user sum (the lmPerplexity/bearing_hist
  // transcendental-sum discipline). The per-user total rides a window
  // over the (user,cell) aggregate — same hash partitioning, so the
  // window REUSES the groupBy exchange: one exchange total.
  // =================================================================

  def userEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(spark, sfDir)
      .select(col("user_id"),
        F.cellAt(lit(6), evLon(col("event_id")), evLat(col("event_id"))).as("cell"))
      .groupBy(col("user_id"), col("cell")).agg(count(lit(1)).as("v"))
      .withColumn("n", sum(col("v")).over(w))
      .withColumn("hq", expr(
        "CAST(round(-(CAST(v AS DOUBLE) / n) * ln(CAST(v AS DOUBLE) / n) * 1000000000.0, 0) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_fixes"), count(lit(1)).as("n_cells"),
        sum(col("hq")).as("ent_q"))
  }

  def userEntropySql: String =
    s"""WITH ev AS (SELECT user_id,
       |              ${cellSql(6, s"($evLonSql)", s"($evLatSql)")} AS cell
       |            FROM events),
       |vc AS (SELECT user_id, cell, CAST(count(*) AS BIGINT) AS v FROM ev GROUP BY 1, 2),
       |wn AS (SELECT user_id, cell, v,
       |         CAST(sum(v) OVER (PARTITION BY user_id) AS BIGINT) AS n
       |       FROM vc),
       |ht AS (SELECT user_id, n,
       |         CAST(round(-(CAST(v AS DOUBLE) / n) * ln(CAST(v AS DOUBLE) / n) * 1000000000.0, 0) AS BIGINT) AS hq
       |       FROM wn)
       |SELECT user_id, CAST(max(n) AS BIGINT) AS n_fixes,
       |       CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(hq) AS BIGINT) AS ent_q
       |FROM ht GROUP BY 1""".stripMargin

  // =================================================================
  // HITS hubs & authorities (Kleinberg '99) over the host link graph:
  // 3 mutual-reinforcement rounds, each an edge join + map-combined
  // groupBy, L1-normalized per half-step. The cellPagerank integer
  // discipline: scores live on a 10^6 lattice, contributions are
  // BIGINT products (score·weight ≤ 10^6·w_max; safe while w_max ≲
  // 9·10^6 — documented bound), normalization is (raw · scale) div
  // total — all order-independent, so the unrolled-CTE oracle replays
  // the iteration exactly. The host graph is dim-sized HERE (≤ 97²
  // edges) but the plan is the general edge-partitioned power
  // iteration: per-round scores localCheckpoint (the iterative-loop
  // lineage invariant), sums are 1-row broadcasts.
  // =================================================================

  private val HitsScale = 1000000L

  def hitsRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = linkGraph(spark, sfDir).persist()
    val nodes = edges.select(col("src_host").as("host"))
      .union(edges.select(col("dst_host").as("host"))).distinct().persist()
    val n = nodes.count()
    var hub = nodes.select(col("host"), lit(HitsScale / n).as("hq")).localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 1 to 3) {
      val araw = edges.join(hub.withColumnRenamed("host", "src_host"), "src_host")
        .select(col("dst_host").as("host"), (col("hq") * col("n_links")).as("c"))
        .groupBy("host").agg(sum(col("c")).as("raw"))
      val asum = araw.agg(sum(col("raw")).as("tot"))
      auth = nodes.join(araw, Seq("host"), "left").crossJoin(broadcast(asum))
        .select(col("host"), expr(s"(coalesce(raw, CAST(0 AS BIGINT)) * $HitsScale) div tot").as("aq"))
        .localCheckpoint()
      val hraw = edges.join(auth.withColumnRenamed("host", "dst_host"), "dst_host")
        .select(col("src_host").as("host"), (col("aq") * col("n_links")).as("c"))
        .groupBy("host").agg(sum(col("c")).as("raw"))
      val hsum = hraw.agg(sum(col("raw")).as("tot"))
      hub = nodes.join(hraw, Seq("host"), "left").crossJoin(broadcast(hsum))
        .select(col("host"), expr(s"(coalesce(raw, CAST(0 AS BIGINT)) * $HitsScale) div tot").as("hq"))
        .localCheckpoint()
    }
    auth.join(hub, "host").select(col("host"), col("aq"), col("hq"))
  }

  /** Mirror of [[hitsRank]]: 3 rounds × 2 half-steps unrolled as CTEs,
    * score CTEs MATERIALIZED (each is read by the next half-step and —
    * for a3/h3 — the final select). */
  def hitsRankSql: String = {
    val base =
      s"""l AS (
         |  SELECT 'h' || (doc_id % 97) || '.example.org' AS src_host,
         |         'h' || ((doc_id * 31 + j * 17) % 97) || '.example.org' AS dst_host
         |  FROM (SELECT doc_id, unnest(generate_series(1, 3)) AS j FROM documents)),
         |edges AS MATERIALIZED (
         |  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
         |  FROM l GROUP BY 1, 2),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT host FROM (
         |    SELECT src_host AS host FROM edges
         |    UNION ALL SELECT dst_host FROM edges)),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |h0 AS MATERIALIZED (
         |  SELECT host, $HitsScale // n AS hq FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst_host AS host, CAST(sum(h.hq * e.n_links) AS BIGINT) AS raw
         |  FROM edges e JOIN h${i - 1} h ON h.host = e.src_host GROUP BY 1),
         |at$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$i),
         |a$i AS MATERIALIZED (
         |  SELECT nodes.host, (coalesce(ar$i.raw, CAST(0 AS BIGINT)) * $HitsScale) // tot AS aq
         |  FROM nodes CROSS JOIN at$i LEFT JOIN ar$i ON nodes.host = ar$i.host),
         |hr$i AS (
         |  SELECT e.src_host AS host, CAST(sum(a.aq * e.n_links) AS BIGINT) AS raw
         |  FROM edges e JOIN a$i a ON a.host = e.dst_host GROUP BY 1),
         |ht$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$i),
         |h$i AS MATERIALIZED (
         |  SELECT nodes.host, (coalesce(hr$i.raw, CAST(0 AS BIGINT)) * $HitsScale) // tot AS hq
         |  FROM nodes CROSS JOIN ht$i LEFT JOIN hr$i ON nodes.host = hr$i.host)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$rounds
       |SELECT a3.host, a3.aq, h3.hq
       |FROM a3 JOIN h3 ON a3.host = h3.host""".stripMargin
  }

  // =================================================================
  // Crawl-frontier scheduling (the politeness pass of a crawl
  // pipeline): per (host, batch) the candidate URLs rank by priority
  // (longer pages first, doc_id tiebreak) and get a fetch slot at
  // politeness-delay spacing; shard = host-id mod 16 routes each host
  // to exactly one fetcher. Batching (doc_id div 4096) bounds every
  // window partition regardless of corpus size — the real-frontier
  // segmenting that keeps a 10^12-URL host from serializing one
  // partition; one (host, batch)-keyed exchange total, no text on the
  // wire beyond the host label.
  // =================================================================

  def crawlFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("host"), col("batch"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        concat(lit("h"), (col("doc_id") % 97).cast("string"),
          lit(".example.org")).as("host"),
        (col("doc_id") % 97 % 16).as("shard"),
        expr("doc_id div 4096").as("batch"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("host"), col("shard"), col("batch"), col("rnk"),
        ((col("rnk") - 1) * lit(500000L)).as("slot_us"))
  }

  def crawlFrontierSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |         'h' || (doc_id % 97) || '.example.org' AS host,
       |         (doc_id % 97) % 16 AS shard,
       |         doc_id // 4096 AS batch
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, host, shard, batch,
       |         CAST(row_number() OVER (PARTITION BY host, batch
       |                                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
       |  FROM f)
       |SELECT doc_id, host, shard, batch, rnk,
       |       CAST((rnk - 1) * 500000 AS BIGINT) AS slot_us
       |FROM r""".stripMargin

  // =================================================================
  // Rect dissolve (polygon union area per group): the measure of each
  // group's rectangle UNION via coordinate-compression sweep — the
  // group's distinct x-bounds cut it into vertical slabs, each slab's
  // covering rects contribute y-intervals whose union length falls out
  // of ONE running-max window (no pairwise geometry, no raster). All
  // engine-visible arithmetic runs on the milli-degree BIGINT lattice.
  // Scale: per-group work is quadratic in group size but groups bound
  // it (the PBSM discipline — at N× data with ∝N groups the per-group
  // cost is flat); everything keys on (gkey[, slab]) — no global sort,
  // no driver state, and the slab join reuses the gkey exchange.
  // =================================================================

  /** Union area over (gkey, feature_id, wq, sq, eq, nq) integer rects. */
  def rectDissolveOf(rects: DataFrame): DataFrame = {
    val r = rects.persist() // two consumers: boundary set + slab join
    val slabs = r
      .select(col("gkey"), explode(array(col("wq"), col("eq"))).as("x"))
      .distinct()
      .withColumn("x1", lead(col("x"), 1)
        .over(Window.partitionBy("gkey").orderBy(col("x").asc)))
      .filter(col("x1").isNotNull)
    val covered = slabs.join(r, Seq("gkey"))
      .filter(col("wq") <= col("x") && col("eq") >= col("x1"))
    val wSweep = Window.partitionBy("gkey", "x")
      .orderBy(col("sq").asc, col("nq").asc, col("feature_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = covered
      .withColumn("runmax", max(col("nq")).over(wSweep))
      .withColumn("len", greatest(lit(0L),
        col("nq") - greatest(col("sq"), coalesce(col("runmax"), col("sq")))))
    val area = contrib.groupBy(col("gkey"))
      .agg(sum(col("len") * (col("x1") - col("x"))).as("area_mdeg2"))
    val counts = r.groupBy(col("gkey")).agg(count(lit(1)).as("n_rects"))
    area.join(counts, "gkey")
      .select(col("gkey"), col("n_rects"), col("area_mdeg2"))
  }

  def rectDissolve(spark: SparkSession, sfDir: String): DataFrame =
    rectDissolveOf(custFeatures(spark, sfDir)
      .select(col("feature_id"), (col("feature_id") % 64).as("gkey"),
        qMilli(col("west")).as("wq"), qMilli(col("south")).as("sq"),
        qMilli(col("east")).as("eq"), qMilli(col("north")).as("nq")))

  def rectDissolveSql: String =
    s"""WITH cf AS (${custFeaturesSql}),
       |rects AS MATERIALIZED (
       |  SELECT feature_id, feature_id % 64 AS gkey,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS wq,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS sq,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS eq,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS nq
       |  FROM cf),
       |bounds AS (
       |  SELECT DISTINCT gkey, x
       |  FROM (SELECT gkey, unnest([wq, eq]) AS x FROM rects)),
       |slabs AS (
       |  SELECT * FROM (
       |    SELECT gkey, x, lead(x, 1) OVER (PARTITION BY gkey ORDER BY x ASC) AS x1
       |    FROM bounds) WHERE x1 IS NOT NULL),
       |covered AS (
       |  SELECT s.gkey, s.x, s.x1, r.feature_id, r.sq, r.nq
       |  FROM slabs s JOIN rects r ON r.gkey = s.gkey
       |  WHERE r.wq <= s.x AND r.eq >= s.x1),
       |contrib AS (
       |  SELECT gkey, x, x1, nq, sq,
       |         max(nq) OVER (PARTITION BY gkey, x
       |                       ORDER BY sq ASC, nq ASC, feature_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
       |  FROM covered),
       |area AS (
       |  SELECT gkey,
       |         CAST(sum(greatest(0, nq - greatest(sq, COALESCE(runmax, sq))) * (x1 - x)) AS BIGINT) AS area_mdeg2
       |  FROM contrib GROUP BY 1),
       |counts AS (SELECT gkey, CAST(count(*) AS BIGINT) AS n_rects FROM rects GROUP BY 1)
       |SELECT a.gkey, c.n_rects, a.area_mdeg2
       |FROM area a JOIN counts c ON a.gkey = c.gkey""".stripMargin

  // =================================================================
  // STR packing (Sort-Tile-Recursive, Leutenegger et al. '97): pack the
  // feature dimension into S×S spatial leaves — ntile by quantized
  // center-x, then ntile by center-y within each x-slice; per-leaf MBR
  // and occupancy. This is the spatial-partitioner BUILD step: at scale
  // the leaf MBRs become the routing table for probe-side shuffle
  // partitioning, and the pack runs on the dim side only (features are
  // index-sized — the probe side never sorts globally). Sort keys and
  // MBRs are exact lattice integers; feature_id tiebreaks make the
  // ntile assignment total-order determined on both engines.
  // =================================================================

  private val StrSlices = 8

  def strPack(spark: SparkSession, sfDir: String): DataFrame = {
    val s = StrSlices
    val rects = custFeatures(spark, sfDir)
      .select(col("feature_id"),
        qMilli(col("flon")).as("cx"), qMilli(col("flat")).as("cy"),
        qMilli(col("west")).as("wq"), qMilli(col("south")).as("sq"),
        qMilli(col("east")).as("eq"), qMilli(col("north")).as("nq"))
    rects
      .withColumn("sx", ntile(s).over(Window.orderBy(col("cx").asc, col("feature_id").asc)))
      .withColumn("sy", ntile(s)
        .over(Window.partitionBy("sx").orderBy(col("cy").asc, col("feature_id").asc)))
      .groupBy(((col("sx") - 1) * s + (col("sy") - 1)).cast("long").as("leaf"))
      .agg(count(lit(1)).as("n_feat"),
        min(col("wq")).as("mbr_w"), min(col("sq")).as("mbr_s"),
        max(col("eq")).as("mbr_e"), max(col("nq")).as("mbr_n"))
  }

  def strPackSql: String =
    s"""WITH cf AS (${custFeaturesSql}),
       |rects AS (
       |  SELECT feature_id,
       |         CAST(round(flon * 1000, 0) AS BIGINT) AS cx,
       |         CAST(round(flat * 1000, 0) AS BIGINT) AS cy,
       |         CAST(round(west * 1000, 0) AS BIGINT) AS wq,
       |         CAST(round(south * 1000, 0) AS BIGINT) AS sq,
       |         CAST(round(east * 1000, 0) AS BIGINT) AS eq,
       |         CAST(round(north * 1000, 0) AS BIGINT) AS nq
       |  FROM cf),
       |sx AS (
       |  SELECT *, ntile($StrSlices) OVER (ORDER BY cx ASC, feature_id ASC) AS sx
       |  FROM rects),
       |sy AS (
       |  SELECT *, ntile($StrSlices) OVER (PARTITION BY sx ORDER BY cy ASC, feature_id ASC) AS sy
       |  FROM sx)
       |SELECT (sx - 1) * $StrSlices + (sy - 1) AS leaf,
       |       CAST(count(*) AS BIGINT) AS n_feat,
       |       min(wq) AS mbr_w, min(sq) AS mbr_s,
       |       max(eq) AS mbr_e, max(nq) AS mbr_n
       |FROM sy GROUP BY 1""".stripMargin

  // =================================================================
  // Slope/aspect (Horn '81 3×3 gradient) over the z6 event-count
  // surface: the density raster's gradient field — the terrain-analysis
  // primitive applied to activity intensity. Same scatter shape as
  // Gi*: each cell's count scatters to its 8 neighbors with the Horn
  // weight for the RECEIVING cell (source at offset (dx,dy) from the
  // target contributes (−dx)(2−|dy|) to gx and (−dy)(2−|dx|) to gy),
  // one map-combined groupBy — absent cells are implicitly z=0, so the
  // kernel is total without densifying the grid. gx/gy stay exact
  // BIGINTs; only the final slope/aspect angles are doubles, token-
  // identical and rounded.
  // =================================================================

  def slopeAspect(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = z6Counts(eventPoints(spark, sfDir))
    val contrib = queen(counts,
        (-col("dx") * (lit(2) - abs(col("dy"))) * col("cnt")).as("cx"),
        (-col("dy") * (lit(2) - abs(col("dx"))) * col("cnt")).as("cy"))
      .groupBy("cell").agg(sum(col("cx")).as("gx"), sum(col("cy")).as("gy"))
    counts.select("cell", "cnt").join(contrib, "cell")
      .withColumn("slope_deg", round(
        atan(sqrt(col("gx").cast("double") * col("gx").cast("double") +
          col("gy").cast("double") * col("gy").cast("double")) / lit(800.0)) *
          lit(180.0) / lit(Math.PI), 4))
      .withColumn("aspect_deg", round(
        atan2(col("gy").cast("double"), col("gx").cast("double")) *
          lit(180.0) / lit(Math.PI), 4))
      .select(col("cell"), col("cnt"), col("gx"), col("gy"),
        col("slope_deg"), col("aspect_deg"))
  }

  def slopeAspectSql: String =
    s"""WITH pts AS (${eventPointsSql}),
       |${z6CountsSql()},
       |${queenSql("counts", Seq(",", "CAST(sum(-dx.d * (2 - abs(dy.d)) * cnt) AS BIGINT) AS gx,",
         "CAST(sum(-dy.d * (2 - abs(dx.d)) * cnt) AS BIGINT) AS gy"))}
       |SELECT counts.cell, counts.cnt, contrib.gx, contrib.gy,
       |       round(atan(sqrt(CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE) +
       |             CAST(gy AS DOUBLE) * CAST(gy AS DOUBLE)) / 800.0) * 180.0 / pi(), 4) AS slope_deg,
       |       round(atan2(CAST(gy AS DOUBLE), CAST(gx AS DOUBLE)) * 180.0 / pi(), 4) AS aspect_deg
       |FROM counts JOIN contrib ON counts.cell = contrib.cell""".stripMargin

  // =================================================================
  // Regional vocabulary (log-odds with Laplace smoothing, the Monroe
  // et al. '08 "fightin' words" construction): which terms are
  // DISPROPORTIONATELY frequent in pages located in a z4 cell vs the
  // whole corpus. Counts stay exact integers end-to-end — one
  // (cell,tok) map-combined groupBy is the only corpus-sized exchange;
  // the cell/term marginals ride windows over the post-aggregate frame
  // (dim-sized, so the skewed-term carve-out doesn't apply) and the
  // corpus total is a broadcast 1-row crossJoin. The log-odds ranking
  // key stays an unrounded double with a token tiebreak; the reported
  // score is rounded.
  // =================================================================

  def regionTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val ct = docPages(spark, sfDir)
      .select(F.cellAt(lit(4), col("qlon"), col("qlat")).as("cell"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("cell"), col("tok")).agg(count(lit(1)).as("k_ct"))
    val wc = Window.partitionBy("cell")
    val wt = Window.partitionBy("tok")
    val glob = ct.agg(sum(col("k_ct")).as("nn"))
    val scored = ct
      .withColumn("n_c", sum(col("k_ct")).over(wc))
      .withColumn("k_t", sum(col("k_ct")).over(wt))
      .crossJoin(broadcast(glob))
      .withColumn("score",
        log((col("k_ct") + lit(1L)).cast("double") /
          (col("n_c") - col("k_ct") + lit(1L)).cast("double")) -
          log((col("k_t") + lit(1L)).cast("double") /
            (col("nn") - col("k_t") + lit(1L)).cast("double")))
    val wr = Window.partitionBy("cell").orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= 5)
      .select(col("cell"), col("rank").cast("long").as("rank"), col("tok"),
        col("k_ct"), round(col("score"), 6).as("score_r"))
  }

  def regionTermsSql: String =
    s"""WITH docs AS (${docPagesSql}),
       |ct AS MATERIALIZED (
       |  SELECT cell, tok, CAST(count(*) AS BIGINT) AS k_ct
       |  FROM (SELECT ${cellSql(4, "qlon", "qlat")} AS cell,
       |               unnest(string_split(text, ' ')) AS tok
       |        FROM docs)
       |  GROUP BY 1, 2),
       |gtot AS (SELECT CAST(sum(k_ct) AS BIGINT) AS nn FROM ct),
       |marg AS (
       |  SELECT *,
       |         CAST(sum(k_ct) OVER (PARTITION BY cell) AS BIGINT) AS n_c,
       |         CAST(sum(k_ct) OVER (PARTITION BY tok) AS BIGINT) AS k_t
       |  FROM ct),
       |scored AS (
       |  SELECT cell, tok, k_ct,
       |         ln(CAST(k_ct + 1 AS DOUBLE) / CAST(n_c - k_ct + 1 AS DOUBLE)) -
       |         ln(CAST(k_t + 1 AS DOUBLE) / CAST(nn - k_t + 1 AS DOUBLE)) AS score
       |  FROM marg CROSS JOIN gtot),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cell
       |                               ORDER BY score DESC, tok ASC) AS rank
       |  FROM scored)
       |SELECT cell, CAST(rank AS BIGINT) AS rank, tok, k_ct,
       |       round(score, 6) AS score_r
       |FROM rk WHERE rank <= 5""".stripMargin

  // =================================================================
  // Trajectory-similarity join (DTW): per-user tracks (first 12 fixes
  // in (ts, event_id) order, z8 cells) paired by shared ORIGIN z2 cell
  // with a per-track candidate cap (the LSH bucket-cap discipline —
  // bounded fan-out whatever the block's occupancy), then dynamic time
  // warping under Manhattan ground distance via the native rolling-row
  // kernel — integer-exact end-to-end. The oracle replays the SAME DP
  // as an anti-diagonal wave recursion: wave k holds D(i, k−i) with
  // each row carrying its up-neighbor value, so D(i−1, j−1) is the
  // previous wave's up(i, j−1) and one self-join per wave suffices.
  // Scale: tracks are one user-keyed exchange; the pair join keys on
  // the block cell; the DP runs in-row (no per-pair shuffle state).
  // =================================================================

  private val DtwK = 12    // track-length cap (fixes per user)
  private val DtwCap = 8   // same-block candidate cap per probe track

  def dtwTracks(spark: SparkSession, sfDir: String): DataFrame = {
    val fixes = events(spark, sfDir).select(col("event_id"), col("user_id"), col("us"))
      .withColumn("cell", F.cellAt(lit(8), evLon(col("event_id")), evLat(col("event_id"))))
      .withColumn("rn", row_number().over(fixOrder))
      .filter(col("rn") <= DtwK)
    val tracks = fixes.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("rn"), col("cell")))).as("sc"))
      .select(col("user_id"), expr("transform(sc, s -> s.cell)").as("cells"))
      .filter(size(col("cells")) >= 2)
      .withColumn("o", F.parentCell(element_at(col("cells"), 1), lit(2)))
      .persist() // both sides of the pair join
    val pairs = tracks
      .select(col("o"), col("user_id").as("u1"), col("cells").as("ca"))
      .join(tracks.select(col("o"), col("user_id").as("u2"), col("cells").as("cb"))
        .hint("shuffle_hash"), Seq("o"))
      .filter(col("u2") > col("u1"))
      .withColumn("cn", row_number().over(
        Window.partitionBy("u1").orderBy(col("u2").asc)))
      .filter(col("cn") <= DtwCap)
    pairs.select(col("u1"), col("u2"), col("o"),
      size(col("ca")).cast("long").as("m"), size(col("cb")).cast("long").as("n"),
      F.dtwCells(col("ca"), col("cb")).as("dtw"),
      F.frechetCells(col("ca"), col("cb")).as("frechet"))
  }

  def dtwTracksSql: String = {
    def dcost(ae: String, be: String, ie: String, je: String): String = {
      val (a, b) = (s"$ae[$ie]", s"$be[$je]")
      s"(abs(${cellXSql(a)} - ${cellXSql(b)}) + abs(${cellYSql(a)} - ${cellYSql(b)}))"
    }
    val big = "1152921504606846976"
    s"""WITH RECURSIVE raw AS (
       |  SELECT event_id, user_id, $evUsSql AS us,
       |         $evLonSql AS elon, $evLatSql AS elat
       |  FROM events),
       |fx AS (
       |  SELECT user_id, us, event_id, ${cellSql(8, "elon", "elat")} AS cell,
       |         row_number() OVER ($fixOrderSql) AS rn
       |  FROM raw),
       |trk AS MATERIALIZED (
       |  SELECT user_id, list(cell ORDER BY rn) AS cells,
       |         CAST(count(*) AS BIGINT) AS m
       |  FROM fx WHERE rn <= $DtwK GROUP BY 1 HAVING count(*) >= 2),
       |blk AS MATERIALIZED (
       |  SELECT user_id, cells, m, ${parentCellSql("cells[1]", 8, "2")} AS o
       |  FROM trk),
       |pairs AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT p.user_id AS u1, q.user_id AS u2, p.o,
       |           p.cells AS a, q.cells AS b, p.m AS m, q.m AS n,
       |           row_number() OVER (PARTITION BY p.user_id ORDER BY q.user_id ASC) AS cn
       |    FROM blk p JOIN blk q ON p.o = q.o
       |    WHERE q.user_id > p.user_id)
       |  WHERE cn <= $DtwCap),
       |dp AS (
       |  SELECT u1, u2, a, b, m, n, 2 AS k, CAST(1 AS BIGINT) AS i,
       |         ${dcost("a", "b", "1", "1")} AS val, CAST(NULL AS BIGINT) AS up,
       |         ${dcost("a", "b", "1", "1")} AS fval, CAST(NULL AS BIGINT) AS fup
       |  FROM pairs
       |  UNION ALL
       |  SELECT c.u1, c.u2, c.a, c.b, c.m, c.n, c.k + 1 AS k, c.i_new AS i,
       |         ${dcost("c.a", "c.b", "c.i_new", "c.k + 1 - c.i_new")} +
       |           least(COALESCE(av.val, $big), COALESCE(c.val_b, $big),
       |                 COALESCE(c.up_b, $big)) AS val,
       |         av.val AS up,
       |         greatest(${dcost("c.a", "c.b", "c.i_new", "c.k + 1 - c.i_new")},
       |           least(COALESCE(av.fval, $big), COALESCE(c.fval_b, $big),
       |                 COALESCE(c.fup_b, $big))) AS fval,
       |         av.fval AS fup
       |  FROM (
       |    SELECT p.u1, p.u2, p.a, p.b, p.m, p.n, p.k,
       |           CASE r.r WHEN 0 THEN p.i ELSE p.i + 1 END AS i_new,
       |           CASE r.r WHEN 0 THEN p.val END AS val_b,
       |           CASE r.r WHEN 0 THEN p.up END AS up_b,
       |           CASE r.r WHEN 0 THEN p.fval END AS fval_b,
       |           CASE r.r WHEN 0 THEN p.fup END AS fup_b
       |    FROM dp p, (SELECT unnest([0, 1]) AS r) r
       |    WHERE p.k < p.m + p.n
       |      AND ((r.r = 0 AND p.k + 1 - p.i <= p.n)
       |        OR (r.r = 1 AND p.k - p.i = 1 AND p.i + 1 <= p.m))
       |  ) c
       |  LEFT JOIN dp av
       |    ON av.u1 = c.u1 AND av.u2 = c.u2 AND av.k = c.k AND av.i = c.i_new - 1)
       |SELECT u1, u2, o, m, n, val AS dtw, fval AS frechet
       |FROM dp JOIN pairs USING (u1, u2, m, n)
       |WHERE k = m + n AND i = m""".stripMargin
  }

  // =================================================================
  // Language fallback (carmen `language` option + carmen:text_{lang}):
  // a doc in language L matches feature names in L when defined, falling
  // back to the default name. Small-gazetteer path = broadcast
  // contains-join (exactly the oracle semantics); the at-scale path stays
  // the token-window equi-join with per-language phrase dict entries.
  // =================================================================

  /** The shipped fallback language list (config, like carmen's
    * `languageMode` option set): a bounded static superset of the corpus
    * languages — NOT derived from the data. */
  val FallbackLangs: Seq[String] =
    Seq("ar", "de", "en", "es", "fr", "it", "ja", "ko", "pt", "ru", "zh").sorted

  def langFallback(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the list must cover the corpus: a page in any other language (or
    // none) fails the query instead of silently losing its matches, which
    // the oracle keeps (it matches every language)
    val docs = TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("lang").isin(FallbackLangs: _*), col("lang")).otherwise(raise_error(
          concat(lit("lang_fallback: page language "), coalesce(col("lang"), lit("NULL")),
            lit(" is not in FallbackLangs")))).as("lang"))
    // The per-language EFFECTIVE phrase dictionary (alt name when defined
    // for that language, default name otherwise) — a langs × gazetteer
    // dimension table built driver-side from the SHIPPED language list
    // ([[FallbackLangs]]): carmen ships a fixed list, so deriving it from
    // a corpus distinct+collect (the r4 shape) was a needless full scan at
    // 10^12 rows. Languages in the list but absent from the corpus add
    // only unmatched dict rows to the broadcast dim. The doc-side match is
    // then a token-window equi-join on (phrase, lang): the at-scale plan,
    // vs the θ-contains-join that scanned every doc × every name.
    val langs = FallbackLangs
    val effRows = for { l <- langs.toSeq; g <- gazetteer } yield {
      val alt = altNames.find(a => a._1 == g.id && a._2 == l)
      (l, g.id, alt.map(_._3).getOrElse(g.name),
        if (alt.isDefined) l else "default")
    }
    val eff = effRows.toDF("elang", "gid", "ename", "used_lang")
    val maxLen = effRows.map(_._3.count(_ == ' ') + 1).max
    Geocode.tokenWindowsPos(docs, maxLen, extraCols = Seq("lang")).drop("pos")
      .join(broadcast(eff),
        col("lang") === col("elang") && col("phrase") === col("ename"))
      .select(col("doc_id"), col("gid"), col("used_lang"))
  }

  def langFallbackSql: String =
    s"""WITH $gazCte, $altNamesCte,
       |eff AS (SELECT g.gid, g.name, a.alt_lang, a.name_alt
       |        FROM gaz g LEFT JOIN alt a ON a.gid = g.gid)
       |SELECT d.doc_id, e.gid,
       |       CASE WHEN d.lang = e.alt_lang AND e.name_alt IS NOT NULL
       |            THEN d.lang ELSE 'default' END AS used_lang
       |FROM documents d JOIN eff e
       |  ON contains(' ' || d.text || ' ',
       |       ' ' || (CASE WHEN d.lang = e.alt_lang AND e.name_alt IS NOT NULL
       |                    THEN e.name_alt ELSE e.name END) || ' ')""".stripMargin

  // =================================================================
  // ops.js-style result formatting: place_name = "<place>, <region>" for
  // every gazetteer place stacked under its containing region (F4 ordering
  // finest→coarsest, carmen's geocoder_format default).
  // =================================================================

  def placeNameFmt(spark: SparkSession, sfDir: String): DataFrame = {
    val g = gazDf(spark)
    val p = g.filter(col("typ") === "place")
      .select(col("gid"), col("name"),
        F.cellAt(lit(12), col("glon"), col("glat")).as("cell"),
        F.parentCell(F.cellAt(lit(12), col("glon"), col("glat")), lit(8)).as("p8"))
    val r = g.filter(col("typ") === "region")
      .select(col("gid").as("rid"), col("name").as("rname"),
        F.cellAt(lit(8), col("glon"), col("glat")).as("cell8"))
    p.join(broadcast(r), p("p8") === r("cell8"))
      .select(col("gid"), concat(col("name"), lit(", "), col("rname")).as("place_name"),
        col("cell"))
  }

  def placeNameFmtSql: String =
    s"""WITH $gazCte,
       |p AS (SELECT gid, name, ${cellSql(12, "glon", "glat")} AS cell,
       |             ${cellSql(8, "glon", "glat")} AS p8
       |      FROM gaz WHERE typ = 'place'),
       |r AS (SELECT gid AS rid, name AS rname, ${cellSql(8, "glon", "glat")} AS cell8
       |      FROM gaz WHERE typ = 'region')
       |SELECT p.gid, p.name || ', ' || r.rname AS place_name, p.cell
       |FROM p JOIN r ON p.p8 = r.cell8""".stripMargin

  def fuzzyMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = freqIndex(spark, sfDir).select(col("term"))
      .select(col("term"), explode(delKeys("term")).as("dk"))
    val singles = gazDf(spark).filter(!col("name").contains(" "))
      .select(col("name"), explode(delKeys("name")).as("dk"))
    terms.join(broadcast(singles), "dk")
      .select(col("term"), col("name")).distinct()
      .withColumn("dist", levenshtein(col("term"), col("name")))
      .filter(col("dist") <= 1)
      .select(col("term"), col("name"), col("dist"))
  }

  def fuzzyMatchSql: String =
    s"""WITH $gazCte,
       |terms AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
       |          FROM documents)
       |SELECT t.term, g.name, levenshtein(t.term, g.name) AS dist
       |FROM terms t JOIN gaz g ON NOT contains(g.name, ' ')
       |WHERE levenshtein(t.term, g.name) <= 1""".stripMargin
}
