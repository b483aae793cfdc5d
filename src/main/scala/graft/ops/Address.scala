package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.synth.Synth.{custLattice, custLat, custLon}

/** H8 + C5: address-range predicate (housenumber within [lfromhn, ltohn]
  * with parity) and linear interpolation of the address point along the
  * street line — carmen's `applyaddress` semantics (upstream
  * `lib/pure/applyaddress.js` [U]) re-expressed as pure column arithmetic
  * so it is both codegen'd and oracle-mirrorable.
  */
object Address {

  /** C5: eligibility — from <= h <= to and parity matches (O/E/B). */
  def inRange(h: Column, from: Column, to: Column, parity: Column): Column =
    h >= from && h <= to &&
      (parity === "B" ||
        (parity === "O" && h % 2 === 1) ||
        (parity === "E" && h % 2 === 0))

  /** H8: position along the segment (x0,y0)→(x1,y1) at fraction
    * (h - from) / (to - from); degenerate ranges pin to the start. */
  def interpLon(h: Column, from: Column, to: Column, x0: Column, x1: Column): Column =
    when(to === from, x0)
      .otherwise(x0 + (h - from).cast("double") / (to - from).cast("double") * (x1 - x0))
  def interpLat(h: Column, from: Column, to: Column, y0: Column, y1: Column): Column =
    when(to === from, y0)
      .otherwise(y0 + (h - from).cast("double") / (to - from).cast("double") * (y1 - y0))

  /** Street segments derived from the supplier table (deterministic, SQL-
    * mirrored): a horizontal 0.01° segment per supplier, starting on the
    * customer lattice over s_suppkey, with an odd housenum range keyed on
    * s_suppkey. */
  def streets(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("s_suppkey").cast("long")
    graft.index.TableIO.read(spark, s"$sfDir/supplier.parquet")
      .select(k.as("street_id"),
        custLon(k).as("x0"),
        custLat(k).as("y0"),
        ((k % 50) * 2 + 1).as("fromhn"),
        ((k % 50) * 2 + 99).as("tohn"),
        when(k % 3 === 0, "O").when(k % 3 === 1, "E").otherwise("B").as("parity"))
      .withColumn("x1", col("x0") + lit(0.01))
      .withColumn("y1", col("y0"))
  }

  def streetsSql: String = {
    val (x0, y0) = (custLattice.x.degSql("s_suppkey"), custLattice.y.degSql("s_suppkey"))
    s"""SELECT CAST(s_suppkey AS BIGINT) AS street_id,
       |       $x0 AS x0,
       |       $y0 AS y0,
       |       (s_suppkey % 50) * 2 + 1 AS fromhn,
       |       (s_suppkey % 50) * 2 + 99 AS tohn,
       |       CASE WHEN s_suppkey % 3 = 0 THEN 'O'
       |            WHEN s_suppkey % 3 = 1 THEN 'E' ELSE 'B' END AS parity,
       |       $x0 + 0.01 AS x1,
       |       $y0 AS y1
       |FROM supplier""".stripMargin
  }

  /** Query: interpolate deterministic probe housenumbers against their
    * street's range (the query housenumber is keyed off the street id). */
  def interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val st = streets(spark, sfDir)
      .withColumn("h", (col("street_id") * 13 % 120 + 1).cast("long"))
    st.filter(inRange(col("h"), col("fromhn"), col("tohn"), col("parity")))
      .select(col("street_id"), col("h"),
        interpLon(col("h"), col("fromhn"), col("tohn"), col("x0"), col("x1")).as("alon"),
        interpLat(col("h"), col("fromhn"), col("tohn"), col("y0"), col("y1")).as("alat"))
  }

  /** H8 inside the forward flow: free-text address queries
    * "<housenumber> <street name>" — the engine PARSES the housenumber off
    * the text, equi-joins the street name against the (at-scale huge, so
    * shuffle-hash) street table, applies the C5 range/parity predicate and
    * interpolates the address point. Out-of-range / wrong-parity queries
    * produce no row (carmen falls back to the street centroid — kept as a
    * separate concern). */
  def forwardAddress(spark: SparkSession, sfDir: String): DataFrame = {
    val st = streets(spark, sfDir)
      .withColumn("name", concat(lit("street "), col("street_id").cast("string")))
    val q = streets(spark, sfDir).select(col("street_id").as("qid"),
      concat((col("street_id") * 13 % 120 + 1).cast("string"),
        lit(" street "), col("street_id").cast("string")).as("text"))
    val parsed = q
      .withColumn("toks", split(col("text"), " "))
      .withColumn("h", element_at(col("toks"), 1).cast("long"))
      .withColumn("sname", array_join(
        slice(col("toks"), lit(2), size(col("toks")) - 1), " "))
      .select(col("qid"), col("h"), col("sname"))
    parsed.join(st.hint("shuffle_hash"), col("sname") === col("name"))
      .filter(inRange(col("h"), col("fromhn"), col("tohn"), col("parity")))
      .select(col("qid"), col("street_id"), col("h"),
        interpLon(col("h"), col("fromhn"), col("tohn"), col("x0"), col("x1")).as("alon"),
        interpLat(col("h"), col("fromhn"), col("tohn"), col("y0"), col("y1")).as("alat"))
  }

  def forwardAddressSql: String =
    s"""WITH st AS (${streetsSql}),
       |named AS (SELECT *, 'street ' || street_id AS name FROM st),
       |q AS (SELECT street_id AS qid,
       |             ((street_id * 13) % 120 + 1) || ' street ' || street_id AS text
       |      FROM st),
       |parsed AS (
       |  SELECT qid,
       |         CAST(string_split(text, ' ')[1] AS BIGINT) AS h,
       |         array_to_string(list_slice(string_split(text, ' '), 2,
       |           len(string_split(text, ' '))), ' ') AS sname
       |  FROM q)
       |SELECT p.qid, n.street_id, p.h,
       |       CASE WHEN n.tohn = n.fromhn THEN n.x0
       |            ELSE n.x0 + CAST(p.h - n.fromhn AS DOUBLE) / CAST(n.tohn - n.fromhn AS DOUBLE) * (n.x1 - n.x0) END AS alon,
       |       CASE WHEN n.tohn = n.fromhn THEN n.y0
       |            ELSE n.y0 + CAST(p.h - n.fromhn AS DOUBLE) / CAST(n.tohn - n.fromhn AS DOUBLE) * (n.y1 - n.y0) END AS alat
       |FROM parsed p JOIN named n ON p.sname = n.name
       |WHERE p.h >= n.fromhn AND p.h <= n.tohn
       |  AND (n.parity = 'B' OR (n.parity = 'O' AND p.h % 2 = 1)
       |       OR (n.parity = 'E' AND p.h % 2 = 0))""".stripMargin

  // ---------------------------------------------------------------
  // Carmen-faithful `addr` arrays (SURVEY §1.1): PER-SIDE range arrays —
  // lfromhn[]/ltohn[]/parityl[] and rfromhn[]/rtohn[]/parityr[] (the
  // TIGER-style shape carmen's addr features carry) — and interpolation
  // along a MULTI-SEGMENT LineString: the matched range's fraction maps to
  // cumulative polyline length, the point lands on whichever segment holds
  // that distance. Range search order is left side then right, first
  // matching range wins (carmen checks both sides of the street).
  // All arithmetic is column HOFs mirrored token-for-token in the oracle;
  // outputs round(·,6) (segment lengths come through IEEE sqrt).
  // ---------------------------------------------------------------

  /** Streets with per-side address-range arrays and a 3-vertex (2-segment)
    * polyline. Parity cycles O/E/B per (street, range) deterministically. */
  def streetsAddr(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("s_suppkey").cast("long")
    def pc(j: Column): Column =
      when(j % 3 === 0, "O").when(j % 3 === 1, "E").otherwise("B")
    val b = (k % 50) * 2
    graft.index.TableIO.read(spark, s"$sfDir/supplier.parquet")
      .select(k.as("street_id"),
        custLon(k).as("x0"),
        custLat(k).as("y0"),
        array(b + 1, b + 51).as("lfromhn"),
        array(b + 49, b + 99).as("ltohn"),
        array(pc(k), pc(k + 1)).as("parityl"),
        array(b + 2, b + 52).as("rfromhn"),
        array(b + 50, b + 100).as("rtohn"),
        array(pc(k + 2), pc(k)).as("parityr"))
      .withColumn("x1", col("x0") + lit(0.01))
      .withColumn("y1", col("y0"))
      .withColumn("x2", col("x1") + lit(0.006))
      .withColumn("y2", col("y1") + lit(0.008))
      .withColumn("x3", col("x2") + lit(0.004))
      .withColumn("y3", col("y2") - lit(0.003))
      .withColumn("x4", col("x3") + lit(0.007))
      .withColumn("y4", col("y3") + lit(0.005))
      .withColumn("vx", array(col("x0"), col("x1"), col("x2"), col("x3"), col("x4")))
      .withColumn("vy", array(col("y0"), col("y1"), col("y2"), col("y3"), col("y4")))
  }

  def streetsAddrSql: String = {
    def pc(j: String) =
      s"CASE WHEN ($j) % 3 = 0 THEN 'O' WHEN ($j) % 3 = 1 THEN 'E' ELSE 'B' END"
    val b = "((s_suppkey % 50) * 2)"
    val (x0, y0) = (custLattice.x.degSql("s_suppkey"), custLattice.y.degSql("s_suppkey"))
    s"""SELECT CAST(s_suppkey AS BIGINT) AS street_id,
       |       $x0 AS x0,
       |       $y0 AS y0,
       |       [$b + 1, $b + 51] AS lfromhn,
       |       [$b + 49, $b + 99] AS ltohn,
       |       [${pc("s_suppkey")}, ${pc("s_suppkey + 1")}] AS parityl,
       |       [$b + 2, $b + 52] AS rfromhn,
       |       [$b + 50, $b + 100] AS rtohn,
       |       [${pc("s_suppkey + 2")}, ${pc("s_suppkey")}] AS parityr,
       |       $x0 + 0.01 AS x1,
       |       $y0 AS y1,
       |       $x0 + 0.01 + 0.006 AS x2,
       |       $y0 + 0.008 AS y2,
       |       $x0 + 0.01 + 0.006 + 0.004 AS x3,
       |       $y0 + 0.008 - 0.003 AS y3,
       |       $x0 + 0.01 + 0.006 + 0.004 + 0.007 AS x4,
       |       $y0 + 0.008 - 0.003 + 0.005 AS y4
       |FROM supplier""".stripMargin
  }

  /** Array-range interpolation query: probe housenumbers against the addr
    * arrays, interpolate along the 2-segment polyline. Output: matched side
    * ('L'/'R'), the address point. */
  def interpolateArrays(spark: SparkSession, sfDir: String): DataFrame = {
    val st = streetsAddr(spark, sfDir)
      .withColumn("h", (col("street_id") * 13 % 120 + 1).cast("long"))
    // combined search order: left ranges then right ranges
    val combined = st
      .withColumn("froms", concat(col("lfromhn"), col("rfromhn")))
      .withColumn("tos", concat(col("ltohn"), col("rtohn")))
      .withColumn("pars", concat(col("parityl"), col("parityr")))
    val nl = size(col("lfromhn"))
    def parOk(p: Column, h: Column): Column =
      p === "B" || (p === "O" && h % 2 === 1) || (p === "E" && h % 2 === 0)
    val matched = combined
      .withColumn("mi", try_element_at( // no matching range → NULL, not ANSI error
        filter(sequence(lit(1), size(col("froms"))), i =>
          col("h") >= element_at(col("froms"), i) &&
            col("h") <= element_at(col("tos"), i) &&
            parOk(element_at(col("pars"), i), col("h"))), lit(1)))
      .filter(col("mi").isNotNull)
      .withColumn("side", when(col("mi") <= nl, "L").otherwise("R"))
      .withColumn("mfrom", element_at(col("froms"), col("mi")))
      .withColumn("mto", element_at(col("tos"), col("mi")))
    val f = when(col("mto") === col("mfrom"), lit(0.0))
      .otherwise((col("h") - col("mfrom")).cast("double") /
        (col("mto") - col("mfrom")).cast("double"))
    // N-VERTEX cumulative-length walk (carmen interpolates along the full
    // street LineString, not a fixed 2-segment demo): per-segment lengths,
    // left-fold cumulative sums (the oracle's list_reduce is the same left
    // fold, so the doubles match bit-exactly), the range fraction maps to
    // distance d along the whole polyline, and the point lands inside the
    // first segment whose cumulative length reaches d. Segment counts are
    // street-geometry-sized (here 4), so the quadratic slice-sum is flat.
    val nSeg = size(col("vx")) - 1
    val withLens = matched
      .withColumn("lens", transform(sequence(lit(1), nSeg), i =>
        sqrt(pow(element_at(col("vx"), i + 1) - element_at(col("vx"), i), 2) +
          pow(element_at(col("vy"), i + 1) - element_at(col("vy"), i), 2))))
      .withColumn("cums", transform(sequence(lit(1), nSeg), i =>
        aggregate(slice(col("lens"), lit(1), i), lit(0.0), (a, x) => a + x)))
      .withColumn("d", f * element_at(col("cums"), nSeg))
      .withColumn("si", try_element_at(
        filter(sequence(lit(1), nSeg), i =>
          element_at(col("cums"), i) >= col("d")), lit(1)))
      .withColumn("si", coalesce(col("si"), nSeg)) // guard fp undershoot at f=1
      .withColumn("prev", element_at(col("cums"), col("si")) - element_at(col("lens"), col("si")))
      .withColumn("t", (col("d") - col("prev")) / element_at(col("lens"), col("si")))
    val alon = element_at(col("vx"), col("si")) +
      (element_at(col("vx"), col("si") + 1) - element_at(col("vx"), col("si"))) * col("t")
    val alat = element_at(col("vy"), col("si")) +
      (element_at(col("vy"), col("si") + 1) - element_at(col("vy"), col("si"))) * col("t")
    withLens.select(col("street_id"), col("h"), col("side"),
      round(alon, 6).as("alon"), round(alat, 6).as("alat"))
  }

  def interpolateArraysSql: String = {
    val parOk = "(pars[mi] = 'B' OR (pars[mi] = 'O' AND h % 2 = 1) " +
      "OR (pars[mi] = 'E' AND h % 2 = 0))"
    s"""WITH st AS (${streetsAddrSql}),
       |probe AS (SELECT *, (street_id * 13) % 120 + 1 AS h,
       |                 list_cat(lfromhn, rfromhn) AS froms,
       |                 list_cat(ltohn, rtohn) AS tos,
       |                 list_cat(parityl, parityr) AS pars
       |          FROM st),
       |m AS (SELECT *,
       |        list_filter(generate_series(1, len(froms)), mi ->
       |          h >= froms[mi] AND h <= tos[mi] AND $parOk)[1] AS mi
       |      FROM probe),
       |mm AS (SELECT *, froms[mi] AS mfrom, tos[mi] AS mto,
       |              [x0, x1, x2, x3, x4] AS vx, [y0, y1, y2, y3, y4] AS vy
       |       FROM m WHERE mi IS NOT NULL),
       |seg AS (SELECT *,
       |          list_transform(generate_series(1, len(vx) - 1), i ->
       |            sqrt((vx[i + 1] - vx[i]) ** 2 + (vy[i + 1] - vy[i]) ** 2)) AS lens
       |        FROM mm),
       |cum AS (SELECT *,
       |          list_transform(generate_series(1, len(lens)), i ->
       |            list_reduce(list_prepend(CAST(0 AS DOUBLE), list_slice(lens, 1, i)),
       |                        (a, x) -> a + x)) AS cums
       |        FROM seg),
       |ff AS (SELECT *,
       |         (CASE WHEN mto = mfrom THEN 0.0
       |               ELSE CAST(h - mfrom AS DOUBLE) / CAST(mto - mfrom AS DOUBLE) END)
       |           * cums[len(cums)] AS d
       |       FROM cum),
       |fs AS (SELECT *,
       |         COALESCE(list_filter(generate_series(1, len(lens)), i ->
       |                    cums[i] >= d)[1], len(lens)) AS si
       |       FROM ff),
       |ft AS (SELECT *, (d - (cums[si] - lens[si])) / lens[si] AS t FROM fs)
       |SELECT street_id, CAST(h AS BIGINT) AS h,
       |       CASE WHEN mi <= len(lfromhn) THEN 'L' ELSE 'R' END AS side,
       |       round(vx[si] + (vx[si + 1] - vx[si]) * t, 6) AS alon,
       |       round(vy[si] + (vy[si + 1] - vy[si]) * t, 6) AS alat
       |FROM ft""".stripMargin
  }

  def interpolateSql: String =
    s"""WITH st AS (${streetsSql}),
       |probe AS (SELECT *, (street_id * 13) % 120 + 1 AS h FROM st)
       |SELECT street_id, CAST(h AS BIGINT) AS h,
       |       CASE WHEN tohn = fromhn THEN x0
       |            ELSE x0 + CAST(h - fromhn AS DOUBLE) / CAST(tohn - fromhn AS DOUBLE) * (x1 - x0) END AS alon,
       |       CASE WHEN tohn = fromhn THEN y0
       |            ELSE y0 + CAST(h - fromhn AS DOUBLE) / CAST(tohn - fromhn AS DOUBLE) * (y1 - y0) END AS alat
       |FROM probe
       |WHERE h >= fromhn AND h <= tohn
       |  AND (parity = 'B' OR (parity = 'O' AND h % 2 = 1)
       |       OR (parity = 'E' AND h % 2 = 0))""".stripMargin
}
