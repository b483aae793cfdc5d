package graft.synth

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal, Remainder}
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.core.CellMath
import graft.functions.F

/** Deterministic derivation of geocoding inputs from the driver testdata
  * tables (TESTDATA.md) — the sandbox stand-in for the 10^12-row
  * Common-Crawl-style pages table (BASELINE.json input_hint).
  *
  * Everything here has a token-for-token SQL mirror so the driver's DuckDB
  * oracle reproduces the same doubles/longs (FIXTURES.md §4): coordinates are
  * exact rational arithmetic over integer keys; cell assignment is the
  * web-mercator floor formula written identically on both sides.
  *
  * The gazetteer is a frozen literal table over the documents vocabulary
  * (31 words, verified against sf0.1) so mention extraction hits richly;
  * place features are positioned strictly inside the z8 tile of their parent
  * region (0.15-tile margin) so forward-geocode coalesce (SURVEY.md §2.D2)
  * has guaranteed, boundary-safe stacks.
  */
object Synth {

  // ---------------------------------------------------------------
  // Gazetteer (frozen literal)
  // ---------------------------------------------------------------

  final case class GazFeature(id: Long, name: String, typ: String,
                              score: Double, lon: Double, lat: Double,
                              stack: String)

  /** C2: geocoder_stack values — a region (and every place under it) belongs
    * to one "country stack"; forward geocode can be restricted to a stack
    * subset before any matching happens (carmen's `stacks` option). */
  private val stackCodes = Vector("na", "eu", "as", "af")

  /** 8 coarse "region" features (indexed at z8), names from doc vocab. */
  private val regionNames =
    Vector("data", "spark", "table", "query", "stream", "vector", "batch", "window")

  /** 32 fine "place" features (indexed at z12). */
  private val placeNames = Vector(
    "hash join", "sort merge", "merge join", "table scan", "group agg",
    "key value", "row filter", "fast scan", "big data", "data stream",
    "query window", "batch merge",
    "hash", "join", "sort", "merge", "scan", "filter", "agg", "key",
    "value", "column", "group", "order", "part", "line", "row",
    "customer", "small", "big", "slow", "fast")

  val regions: Vector[GazFeature] = regionNames.zipWithIndex.map { case (nm, j) =>
    val lon = -160.0 + 45.0 * j + 1.234
    val lat = -56.0 + 16.0 * j + 0.567
    GazFeature(1L + j, nm, "region", ((1 + j) * 37 % 97 + 3).toDouble, lon, lat,
      stackCodes(j % 4))
  }

  val places: Vector[GazFeature] = placeNames.zipWithIndex.map { case (nm, i) =>
    val reg = regions(i % 8)
    val cell8 = CellMath.lonLatToCell(8, reg.lon, reg.lat)
    val (w, s, e, n) = CellMath.cellBounds(cell8)
    val fx = 0.15 + 0.07 * ((i * 13) % 10)
    val fy = 0.15 + 0.07 * ((i * 7) % 10)
    val lon = w + fx * (e - w)
    val lat = s + fy * (n - s)
    GazFeature(101L + i, nm, "place", ((101 + i) * 37 % 97 + 3).toDouble, lon, lat,
      reg.stack)
  }

  // Invariant frozen at class-init: every place's z8 ancestor is its region's
  // z8 cell (coalesce stacks are guaranteed non-empty and boundary-safe).
  require(places.zipWithIndex.forall { case (p, i) =>
    CellMath.parentCell(CellMath.lonLatToCell(12, p.lon, p.lat), 8) ==
      CellMath.lonLatToCell(8, regions(i % 8).lon, regions(i % 8).lat)
  }, "gazetteer containment invariant violated")

  val gazetteer: Vector[GazFeature] = regions ++ places

  def gazDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    gazetteer.map(g => (g.id, g.name, g.typ, g.score, g.lon, g.lat, g.stack))
      .toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
  }

  /** D2 N-level fixture: the base gazetteer extended with "country" (z6) and
    * "continent" (z4) levels for the generalized stack coalesce. Names are
    * doc-vocab bigrams (so mentions hit), and coarser features are
    * CO-LOCATED with an anchor region — hierarchical cell containment then
    * guarantees: places under regions 0/4 chain 4 deep
    * (place→region→country→continent), under 2/6 chain 3 deep (no continent
    * at their z4 cell), odd regions have no country (level-SKIP paths:
    * region→nothing, and region 0/4 could stack straight on the continent
    * when its country is absent from a doc). */
  val countries: Vector[GazFeature] = Vector(
    ("slow line", 0), ("part order", 2), ("column row", 4), ("key filter", 6))
    .zipWithIndex.map { case ((nm, rj), k) =>
      val r = regions(rj)
      GazFeature(601L + k, nm, "country", ((601 + k) * 37 % 97 + 3).toDouble,
        r.lon, r.lat, r.stack)
    }

  val continents: Vector[GazFeature] = Vector(("customer value", 0), ("small vector", 4))
    .zipWithIndex.map { case ((nm, rj), c) =>
      val r = regions(rj)
      GazFeature(501L + c, nm, "continent", ((501 + c) * 37 % 97 + 3).toDouble,
        r.lon, r.lat, r.stack)
    }

  val gazMulti: Vector[GazFeature] = continents ++ countries ++ regions ++ places

  def gazMultiDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    gazMulti.map(g => (g.id, g.name, g.typ, g.score, g.lon, g.lat, g.stack))
      .toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
  }

  def gazMultiCte: String =
    s"gazm(gid, name, typ, score, glon, glat, stack) AS (VALUES ${
      gazMulti.map(gazRowSql).mkString(", ")})"

  /** E4 fixture: the gazetteer with duplicate-name clones of the first six
    * places (same name/coords/score, gid+1000) — the input on which
    * result-level dedupe does real work (carmen dedupes same-place results
    * coming from overlapping indexes). */
  val dupClones: Vector[GazFeature] =
    places.take(6).map(p => p.copy(id = p.id + 1000L))

  def dupGazDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (gazetteer ++ dupClones).map(g => (g.id, g.name, g.typ, g.score, g.lon, g.lat, g.stack))
      .toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
  }

  def dupGazCte: String =
    s"gaz(gid, name, typ, score, glon, glat, stack) AS (VALUES ${
      (gazetteer ++ dupClones).map(gazRowSql).mkString(", ")})"

  /** Toponym-ambiguity fixture (the "Paris, Texas" set): every place name
    * gains a SECOND feature with the same name located inside a different
    * region's z8 tile ((i+4)%8, distinct in-tile offsets), so each place
    * mention has exactly two geographically-separated candidates. Region
    * names stay unambiguous — they are the page-context anchors the
    * disambiguator resolves against. */
  val ambClones: Vector[GazFeature] = places.zipWithIndex.map { case (p, i) =>
    val reg = regions((i + 4) % 8)
    val cell8 = CellMath.lonLatToCell(8, reg.lon, reg.lat)
    val (w, s, e, n) = CellMath.cellBounds(cell8)
    val fx = 0.15 + 0.07 * ((i * 11) % 10)
    val fy = 0.15 + 0.07 * ((i * 3) % 10)
    GazFeature(2101L + i, p.name, "place", ((2101 + i) * 37 % 97 + 3).toDouble,
      w + fx * (e - w), s + fy * (n - s), reg.stack)
  }

  val ambGaz: Vector[GazFeature] = gazetteer ++ ambClones

  def ambGazDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ambGaz.map(g => (g.id, g.name, g.typ, g.score, g.lon, g.lat, g.stack))
      .toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
  }

  def ambGazCte: String =
    s"gaza(gid, name, typ, score, glon, glat, stack) AS (VALUES ${
      ambGaz.map(gazRowSql).mkString(", ")})"

  /** B5 autocomplete fixtures: partial queries "<region name> <place head
    * tokens> <first-2-chars of last place token>" — the terminal token is a
    * prefix the engine must complete (carmen autocompletes the query's last
    * term). Frozen from the gazetteer, so the oracle enumerates the same
    * literals. */
  val acQueries: Vector[(Long, String)] = places.zipWithIndex.map { case (p, i) =>
    val toks = p.name.split(' ')
    val partial = toks.last.substring(0, math.min(2, toks.last.length))
    (i.toLong, (regions(i % 8).name +: (toks.init :+ partial)).mkString(" "))
  }

  def acQueriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    acQueries.toDF("qid", "text")
  }

  def acQueriesCte: String =
    s"acq(qid, text) AS (VALUES ${
      acQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")})"

  /** Multilingual alt names (carmen `carmen:text_{lang}`): frozen literal —
    * German alt names for the first six places, drawn from doc-vocab
    * bigrams unused as default names so they are matchable in text. */
  val altNames: Vector[(Long, String, String)] = Vector(
    (101L, "de", "dup join"), (102L, "de", "dup merge"), (103L, "de", "dup scan"),
    (104L, "de", "dup table"), (105L, "de", "dup agg"), (106L, "de", "dup key"))

  def altNamesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    altNames.toDF("gid", "alt_lang", "name_alt")
  }

  def altNamesCte: String =
    s"alt(gid, alt_lang, name_alt) AS (VALUES ${
      altNames.map { case (g, l, n) => s"($g, '$l', '$n')" }.mkString(", ")})"

  /** SQL literal for a double that round-trips to the identical bits
    * (Double.toString is shortest-round-trip; DuckDB parses to nearest). */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E")) s.replace("E", "e") else s
  }

  private def gazRowSql(g: GazFeature): String =
    s"(${g.id}, '${g.name}', '${g.typ}', ${dlit(g.score)}, ${dlit(g.lon)}, ${dlit(g.lat)}, '${g.stack}')"

  /** `gaz(gid, name, typ, score, glon, glat, stack)` as a DuckDB VALUES CTE body. */
  def gazValuesSql: String = gazetteer.map(gazRowSql).mkString(", ")

  def gazCte: String =
    s"gaz(gid, name, typ, score, glon, glat, stack) AS (VALUES ${gazValuesSql})"

  // ---------------------------------------------------------------
  // Web-mercator cell SQL mirror (H1) — must stay token-for-token in
  // sync with graft.core.CellMath.{lonToX, latToY, pack}
  // ---------------------------------------------------------------

  /** Packed cell `z:5|x:28|y:28` as exact integer arithmetic in SQL.
    * Valid for lon in [-180,180) and lat within mercator range (no clamp —
    * all synthesized coords are in-range by construction). */
  def cellSql(z: Int, lonE: String, latE: String): String =
    cellPackSql(s"$z::BIGINT", tileXSql(z, lonE), tileYSql(z, latE))

  def tileXSql(z: Int, lonE: String): String = {
    val n = 1L << z
    s"CAST(floor((($lonE) + 180.0) / 360.0 * $n.0) AS BIGINT)"
  }

  def tileYSql(z: Int, latE: String): String = {
    val n = 1L << z
    s"CAST(floor($n.0 * (1.0 - ln(tan(($latE) * pi() / 180.0) + 1.0 / cos(($latE) * pi() / 180.0)) / pi()) / 2.0) AS BIGINT)"
  }

  // ---------------------------------------------------------------
  // Packed-key codec: the SQL and Column twins of CellMath.{pack, zOf,
  // xOf, yOf, parentCell}. Every query-layer decode and pack of a cell
  // goes through these (SourceGateSpec fails on the key's constants
  // anywhere else). Arguments are atoms: a column, `t.col` or `a[i]`.
  // ---------------------------------------------------------------

  /** `CellMath.pack`; `zE` is BIGINT- or INTEGER-typed (z·2^56 fits both). */
  def cellPackSql(zE: String, xE: String, yE: String): String =
    s"($zE * 72057594037927936 + $xE * 268435456 + $yE)"
  def cellZSql(c: String): String = s"$c // 72057594037927936"
  def cellXSql(c: String): String = s"($c % 72057594037927936) // 268435456"
  def cellYSql(c: String): String = s"$c % 268435456"

  /** The cell `dx`, `dy` tiles from `c` at its own zoom; the caller keeps
    * x + dx and y + dy inside the grid. */
  def cellOffsetSql(c: String, dxE: String, dyE: String): String =
    s"$c + $dxE * 268435456 + $dyE"

  /** `CellMath.parentCell` of a zoom-`z` cell at zoom `zp` (an integer
    * literal or column, zp <= z); the Spark side is `F.parentCell`. */
  def parentCellSql(c: String, z: Int, zp: String): String = {
    val f = s"(1::BIGINT << ($z - $zp))"
    cellPackSql(zp, s"(${cellXSql(c)} // $f)", s"(${cellYSql(c)} // $f)")
  }

  /** FROM clause covering each rect of `rects` — a FROM head whose rect
    * row (west, south, east, north) is aliased `f` — by its zoom-`z` tiles
    * `xs.x` × `ys.y`; [[rectCellSql]] packs them. Mirrors `F.tileCover`
    * over a rect's WKB. */
  def rectCoverSql(z: Int, rects: String): String =
    s"""$rects,
       |LATERAL (SELECT unnest(generate_series(${tileXSql(z, "f.west")}, ${tileXSql(z, "f.east")})) AS x) xs,
       |LATERAL (SELECT unnest(generate_series(${tileYSql(z, "f.north")}, ${tileYSql(z, "f.south")})) AS y) ys""".stripMargin

  def rectCellSql(z: Int): String = cellPackSql(s"$z::BIGINT", "xs.x", "ys.y")

  def cellPack(z: Column, x: Column, y: Column): Column =
    z.cast("long") * lit(72057594037927936L) + x * lit(268435456L) + y
  def cellZ(c: Column): Column =
    ColumnBridge.column(IntegralDivide(ColumnBridge.expression(c), Literal(72057594037927936L)))
  def cellX(c: Column): Column = ColumnBridge.column(IntegralDivide(
    Remainder(ColumnBridge.expression(c), Literal(72057594037927936L)), Literal(268435456)))
  def cellY(c: Column): Column = c % lit(268435456L)
  def cellOffset(c: Column, dx: Column, dy: Column): Column = c + dx * lit(268435456L) + dy

  /** Haversine km in SQL — mirrors F.haversineKm exactly. */
  def haversineSql(lon1: String, lat1: String, lon2: String, lat2: String): String = {
    val p = dlit(math.Pi / 180.0)
    s"(2.0 * 6371.0088 * asin(least(1.0, sqrt(" +
      s"pow(sin((($lat2) - ($lat1)) * $p / 2), 2) + " +
      s"cos(($lat1) * $p) * cos(($lat2) * $p) * pow(sin((($lon2) - ($lon1)) * $p / 2), 2)))))"
  }

  // ---------------------------------------------------------------
  // Synthetic point lattices: every derived fixture coordinate. A key k
  // maps, per axis, to a milli-degree residue r in [0, m); the centred
  // milli form is r − m/2 and the degree form r / 1000.0 − m/2000. Each
  // form has an SQL twin (`…Sql`) and a Column twin, and the query layer
  // takes its coordinates from them (SourceGateSpec fails on the
  // multipliers anywhere else in src/main). Keys are non-negative table
  // keys, so the residues need no sign fix-up on either engine.
  // ---------------------------------------------------------------

  /** One lattice axis: the residue of a key, and its centred forms. */
  sealed abstract class Axis(val m: Int) {
    def resSql(k: String): String
    def res(k: Column): Column
    def milliSql(k: String): String = s"${resSql(k)} - ${m / 2}"
    def milli(k: Column): Column = res(k) - m / 2
    def degSql(k: String): String = s"(${resSql(k)}) / 1000.0 - ${m / 2000.0}"
    def deg(k: Column): Column = res(k) / 1000.0 - m / 2000.0
  }

  /** The linear lattice `k·c mod m`. */
  final class Linear(c: Int, m: Int) extends Axis(m) {
    def resSql(k: String): String = s"($k * $c) % $m"
    def res(k: Column): Column = k * c % m
  }

  /** The quadratic scatter `(k²·c1 + k·c2) mod m`, with the key reduced by
    * m before it squares: `a = k % m`, then `(a·a % m · c1 + a · c2) % m`.
    * Every intermediate stays below m·max(m, c1 + c2), so the form is exact
    * for every non-negative BIGINT key (the unreduced k·k·c1 leaves the
    * Long range once k > 9,384,505). */
  final class Scatter(c1: Int, c2: Int, m: Int) extends Axis(m) {
    def resSql(k: String): String = {
      val a = s"($k % $m)"
      s"($a * $a % $m * $c1 + $a * $c2) % $m"
    }
    def res(k: Column): Column = {
      val a = k % m
      (a * a % m * c1 + a * c2) % m
    }
  }

  final case class Lattice(x: Axis, y: Axis)

  private def linear(mx: Int, my: Int) = Lattice(new Linear(7919, mx), new Linear(104729, my))

  val evLattice: Lattice = linear(360000, 160000)
  val docLattice: Lattice = linear(360000, 140000)
  val custLattice: Lattice = linear(350000, 160000)
  val natLattice: Lattice = linear(300000, 120000)
  val contLattice: Lattice = linear(240000, 100000)
  val roadLattice: Lattice = linear(352000, 152000)

  /** Events on a QUADRATIC hash of the id over the events box: on the
    * linear lattice a pair is within eps iff the id DIFFERENCE Δ has both
    * residues small, so neighbor graphs degenerate into arithmetic chains
    * whose existence flips with eps (measured: eps=2140 at sf0.01 admits
    * ZERO pairs — a vacuous gate). The quadratic map scatters Poisson-like
    * at every SF (measured: pairs ∝ n, ~45% core, max dbscan cluster ≤ ~50
    * at sf0.001/0.01/0.1). */
  val scatter: Lattice =
    Lattice(new Scatter(7919, 104729, 360000), new Scatter(104729, 7919, 160000))

  // Documents: proximity point of the "query" (the page).
  val docLonSql: String = docLattice.x.degSql("doc_id")
  val docLatSql: String = docLattice.y.degSql("doc_id")
  def docLon(c: Column): Column = docLattice.x.deg(c)
  def docLat(c: Column): Column = docLattice.y.deg(c)

  // Events: reverse-geocode probe points.
  val evLonSql: String = evLattice.x.degSql("event_id")
  val evLatSql: String = evLattice.y.degSql("event_id")
  def evLon(c: Column): Column = evLattice.x.deg(c)
  def evLat(c: Column): Column = evLattice.y.deg(c)

  // Event timeline. `events.ts` is TIMESTAMP_NTZ; both engines read it as
  // the same integer microseconds: Spark casts it to TIMESTAMP under the
  // UTC session (an identity on wall values) for `unix_micros`, DuckDB
  // reads it naive-as-UTC with `epoch_us`. Second-level forms differ on
  // fractional seconds, so the query layer's clock comparisons, per-user
  // fix orders and calendar buckets all run on `us`, which is monotone in
  // `ts` (SourceGateSpec fails on either function anywhere else).
  val evUs: Column = unix_micros(col("ts").cast("timestamp"))
  val evUsSql: String = "epoch_us(ts)"

  /** The events table with its clock `us` ([[evUs]]). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    graft.index.TableIO.read(spark, eventsPath(sfDir)).withColumn("us", evUs)

  /** Row count of the events table, from metadata (no job). */
  def eventCount(spark: SparkSession, sfDir: String): Long =
    graft.index.TableIO.rowCount(spark, eventsPath(sfDir))

  private def eventsPath(sfDir: String): String = s"$sfDir/events.parquet"

  /** A user's fixes in time order, ties on event_id: the order of every
    * per-user lag, lead, running sum and row number over [[events]]. */
  val fixOrder: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("us").asc, col("event_id").asc)
  val fixOrderSql: String = "PARTITION BY user_id ORDER BY us, event_id"

  // Customer-derived polygon features (rectangles): the bulk feature table
  // for reverse geocoding / kNN / tile cover. Half-open PIP semantics
  // [west,east) x [south,north) mirror the ray-cast exactly.
  val custLonSql: String = custLattice.x.degSql("c_custkey")
  val custLatSql: String = custLattice.y.degSql("c_custkey")
  val custHalfWSql = "(0.3 + (c_custkey % 7) * 0.15)"
  val custHalfHSql = "(0.2 + (c_custkey % 5) * 0.1)"
  val custScoreSql = "((c_custkey % 1000) / 10.0 + 1.0)"
  def custLon(c: Column): Column = custLattice.x.deg(c)
  def custLat(c: Column): Column = custLattice.y.deg(c)
  def custHalfW(c: Column): Column = lit(0.3) + (c % 7) * lit(0.15)
  def custHalfH(c: Column): Column = lit(0.2) + (c % 5) * lit(0.1)
  def custScore(c: Column): Column = (c % 1000) / lit(10.0) + lit(1.0)

  /** Customer rect features: feature_id, score, center, bounds, WKB geometry. */
  def custFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    graft.index.TableIO.read(spark, s"$sfDir/customer.parquet")
      .select(
        k.as("feature_id"),
        custScore(k).as("fscore"),
        custLon(k).as("flon"),
        custLat(k).as("flat"),
        (custLon(k) - custHalfW(k)).as("west"),
        (custLat(k) - custHalfH(k)).as("south"),
        (custLon(k) + custHalfW(k)).as("east"),
        (custLat(k) + custHalfH(k)).as("north"))
      .withColumn("geom_wkb", F.rectWkb(col("west"), col("south"), col("east"), col("north")))
  }

  /** SQL mirror of [[custFeatures]] (minus WKB) as a CTE body. */
  def custFeaturesSql: String =
    s"""SELECT c_custkey AS feature_id,
       |       $custScoreSql AS fscore,
       |       $custLonSql AS flon, $custLatSql AS flat,
       |       $custLonSql - $custHalfWSql AS west,
       |       $custLatSql - $custHalfHSql AS south,
       |       $custLonSql + $custHalfWSql AS east,
       |       $custLatSql + $custHalfHSql AS north
       |FROM customer""".stripMargin

  // Nation-derived coarse "country" rectangles (context chains).
  val natLonSql: String = natLattice.x.degSql("n_nationkey")
  val natLatSql: String = natLattice.y.degSql("n_nationkey")
  def natLon(c: Column): Column = natLattice.x.deg(c)
  def natLat(c: Column): Column = natLattice.y.deg(c)

  def nationFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("n_nationkey").cast("long")
    graft.index.TableIO.read(spark, s"$sfDir/nation.parquet")
      .select(
        k.as("feature_id"),
        (natLon(k) - lit(15.0)).as("west"),
        (natLat(k) - lit(10.0)).as("south"),
        (natLon(k) + lit(15.0)).as("east"),
        (natLat(k) + lit(10.0)).as("north"))
      .withColumn("geom_wkb", F.rectWkb(col("west"), col("south"), col("east"), col("north")))
  }

  def nationFeaturesSql: String =
    s"""SELECT CAST(n_nationkey AS BIGINT) AS feature_id,
       |       $natLonSql - 15.0 AS west,  $natLatSql - 10.0 AS south,
       |       $natLonSql + 15.0 AS east,  $natLatSql + 10.0 AS north
       |FROM nation""".stripMargin

  // Region-table-derived "continent" rectangles (coarsest context level).
  val contLonSql: String = contLattice.x.degSql("r_regionkey")
  val contLatSql: String = contLattice.y.degSql("r_regionkey")
  def contLon(c: Column): Column = contLattice.x.deg(c)
  def contLat(c: Column): Column = contLattice.y.deg(c)

  def continentFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("r_regionkey").cast("long")
    val lon = contLon(k)
    val lat = contLat(k)
    graft.index.TableIO.read(spark, s"$sfDir/region.parquet")
      .select(k.as("feature_id"),
        (lon - lit(20.0)).as("west"), (lat - lit(12.0)).as("south"),
        (lon + lit(20.0)).as("east"), (lat + lit(12.0)).as("north"))
      .withColumn("geom_wkb", F.rectWkb(col("west"), col("south"), col("east"), col("north")))
  }

  def continentFeaturesSql: String =
    s"""SELECT CAST(r_regionkey AS BIGINT) AS feature_id,
       |       $contLonSql - 20.0 AS west, $contLatSql - 12.0 AS south,
       |       $contLonSql + 20.0 AS east, $contLatSql + 12.0 AS north
       |FROM region""".stripMargin

  /** Events with derived probe point. */
  def eventPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("event_id")
    events(spark, sfDir)
      .select(k.as("event_id"), evLon(k).as("elon"), evLat(k).as("elat"))
  }

  def eventPointsSql: String =
    s"SELECT event_id, $evLonSql AS elon, $evLatSql AS elat FROM events"

  /** Events on the [[scatter]] as (id, xq, yq) centred milli — the probe
    * points of dbscan and the pair statistics. */
  def dbscanPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("event_id")
    events(spark, sfDir)
      .select(k.as("id"), scatter.x.milli(k).as("xq"), scatter.y.milli(k).as("yq"))
  }

  val dbscanPointsSql: String =
    s"""SELECT event_id AS id,
       |       ${scatter.x.milliSql("event_id")} AS xq,
       |       ${scatter.y.milliSql("event_id")} AS yq
       |FROM events""".stripMargin

  /** Synthetic road layer: 1000 short segments (≤ 4000 milli per axis) on
    * the milli lattice, endpoints kept inside the world so the z6 cover is
    * defined; ~25% of event points land within 2000 milli of some road. */
  def roadSegs(spark: SparkSession): DataFrame = {
    val r = col("seg_id")
    spark.range(0, 1000).toDF("seg_id")
      .select(r, roadLattice.x.milli(r).as("ax"), roadLattice.y.milli(r).as("ay"))
      .withColumn("bx", col("ax") + (r * 31 % 81 - 40) * 100)
      .withColumn("by", col("ay") + (r * 17 % 81 - 40) * 100)
  }

  /** SQL mirror of [[roadSegs]] as a CTE body: (seg_id, ax, ay, bx, by). */
  val roadSegsSql: String =
    s"""SELECT seg_id, ax, ay,
       |       ax + (seg_id * 31 % 81 - 40) * 100 AS bx,
       |       ay + (seg_id * 17 % 81 - 40) * 100 AS by
       |FROM (SELECT r AS seg_id, ${roadLattice.x.milliSql("r")} AS ax,
       |             ${roadLattice.y.milliSql("r")} AS ay
       |      FROM (SELECT unnest(generate_series(0, 999)) AS r))""".stripMargin

  /** Documents with derived proximity point. */
  def docPages(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("doc_id")
    graft.index.TableIO.read(spark, s"$sfDir/documents.parquet")
      .select(k.as("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
        docLon(k).as("qlon"), docLat(k).as("qlat"))
  }

  def docPagesSql: String =
    s"SELECT doc_id, text, lang, source, n_chars, $docLonSql AS qlon, $docLatSql AS qlat " +
      s"FROM documents"
}
