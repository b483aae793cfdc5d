package graft.spark

import org.apache.spark.sql.functions._
import graft.core.{CellMath, Geo, Text}
import graft.functions.F

/** Catalyst expressions agree with the pure core (eval + codegen paths). */
class ExprsSpec extends SparkTestBase {

  test("cell_at / parent_cell / hilbert expressions match core") {
    import spark.implicits._
    val pts = Seq((2.3522, 48.8566), (-74.006, 40.7128), (151.2, -33.86), (0.0, 0.0))
    val df = pts.toDF("lon", "lat")
      .withColumn("c14", F.cellAt(lit(14), col("lon"), col("lat")))
      .withColumn("p8", F.parentCell(col("c14"), lit(8)))
      .withColumn("h", F.hilbertCell(col("c14")))
      .collect()
    pts.zip(df).foreach { case ((lon, lat), row) =>
      val c = CellMath.lonLatToCell(14, lon, lat)
      assert(row.getLong(2) == c)
      assert(row.getLong(3) == CellMath.parentCell(c, 8))
      assert(row.getLong(4) == CellMath.hilbertOfCell(c))
    }
    // known-good spot check: Paris z14
    val paris = CellMath.lonLatToCell(14, 2.3522, 48.8566)
    assert(CellMath.xOf(paris) == 8299 && CellMath.yOf(paris) == 5636)
  }

  test("Synth's cell-key twins match CellMath and F.parentCell on grid-edge cells and null") {
    import spark.implicits._
    import graft.synth.Synth._
    // x and y at 0 and 2^z - 1 for z = 0, 6, 12, 28; each cell's parent at
    // zoom 0, z/2 and z, and its in-grid queen neighbours; plus a null cell
    val edge = for {
      z <- Seq(0, 6, 12, 28); x <- Seq(0L, (1L << z) - 1); y <- Seq(0L, (1L << z) - 1)
      zp <- Seq(0, z / 2, z).distinct
      dx <- -1 to 1; dy <- -1 to 1
      if x + dx >= 0 && x + dx < (1L << z) && y + dy >= 0 && y + dy < (1L << z)
    } yield (z, Option(x), Option(y), zp, dx, dy)
    val cases = (edge :+ ((6, None, None, 3, 0, 0))).zipWithIndex
    val got = cases.map { case ((z, x, y, zp, dx, dy), i) =>
      (i, z, x, y, zp, dx, dy, x.map(CellMath.pack(z, _, y.get)))
    }.toDF("i", "z", "x", "y", "zp", "dx", "dy", "cell")
      .select(col("i"), cellZ(col("cell")), cellX(col("cell")), cellY(col("cell")),
        cellPack(col("z"), col("x"), col("y")), F.parentCell(col("cell"), col("zp")),
        cellOffset(col("cell"), col("dx"), col("dy")))
      .collect().map(r => r.getInt(0) -> (1 to 6).map(k => Option(r.get(k)).map(_.toString)))
      .toMap
    // the SQL twins, evaluated by the oracle engine (DuckDB)
    val sql = cases.map { case ((z, x, y, zp, dx, dy), i) =>
      val c = x.map(CellMath.pack(z, _, y.get).toString).getOrElse("NULL")
      s"SELECT $i, ${cellZSql("c")}, ${cellXSql("c")}, ${cellYSql("c")}, " +
        s"${cellPackSql("z", "x", "y")}, ${parentCellSql("c", z, "zp")}, " +
        s"${cellOffsetSql("c", "dx", "dy")} FROM (SELECT CAST($c AS BIGINT) AS c, $z AS z, " +
        s"CAST(${x.getOrElse("NULL")} AS BIGINT) AS x, CAST(${y.getOrElse("NULL")} AS BIGINT) AS y, " +
        s"$zp AS zp, $dx AS dx, $dy AS dy)"
    }.mkString(" UNION ALL ")
    val py = "import sys, duckdb\nfor r in duckdb.sql(sys.argv[1]).fetchall():\n" +
      "    print(','.join('' if v is None else str(v) for v in r))"
    val duck = scala.sys.process.Process(Seq("python3", "-c", py, sql)).!!.trim.split("\n")
      .map(_.split(",", -1)).map(r => r(0).toInt -> r.drop(1).map(v => Option(v).filter(_.nonEmpty)).toSeq)
      .toMap
    assert(got.size == cases.size && duck.size == cases.size)
    cases.foreach { case ((z, x, y, zp, dx, dy), i) =>
      val want = x match {
        case Some(xx) =>
          val c = CellMath.pack(z, xx, y.get)
          Seq(z.toLong, xx, y.get, c, CellMath.parentCell(c, zp), CellMath.pack(z, xx + dx, y.get + dy))
            .map(v => Some(v.toString))
        case None => Seq.fill(6)(None)
      }
      assert(got(i) == want, s"Column twins, case $i")
      assert(duck(i) == want, s"SQL twins, case $i")
    }
  }

  test("Synth's event clock twins: evUs in Spark equals evUsSql in DuckDB") {
    import spark.implicits._
    import graft.synth.Synth._
    val sf = "/root/testdata/sf0.001"
    // pre-1970 (where truncating and flooring a second part ways), fractional
    // seconds down to the microsecond, and the 2038 rollover and past it
    val edge = Seq("0001-01-01 00:00:00", "1900-03-01 12:34:56.000001",
      "1969-12-31 23:59:59.5", "1969-12-31 23:59:59.999999", "1970-01-01 00:00:00",
      "1970-01-01 00:00:00.000001", "2024-02-29 23:59:59.999999",
      "2038-01-19 03:14:07.999999", "2038-01-19 03:14:08", "2262-04-11 23:47:16.854776",
      "9999-12-31 23:59:59.999999")
    val fixture = events(spark, sf).select(concat(lit("e"), col("event_id").cast("string")), col("us"))
    val edges = edge.toDF("k").withColumn("ts", col("k").cast("timestamp_ntz")).select(col("k"), evUs)
    val got = (fixture.collect() ++ edges.collect()).map(r => r.getString(0) -> r.getLong(1)).toMap
    val sql = s"SELECT 'e' || CAST(event_id AS VARCHAR), $evUsSql FROM '$sf/events.parquet' UNION ALL " +
      s"SELECT k, $evUsSql FROM (SELECT k, CAST(k AS TIMESTAMP) AS ts FROM (VALUES " +
      edge.map(e => s"('$e')").mkString(", ") + ") v(k))"
    val py = "import sys, duckdb\nfor r in duckdb.sql(sys.argv[1]).fetchall():\n" +
      "    print(f'{r[0]},{r[1]}')"
    val duck = scala.sys.process.Process(Seq("python3", "-c", py, sql)).!!.trim.split("\n")
      .map(_.split(",")).map(r => r(0) -> r(1).toLong).toMap
    val differ = (got.toSet diff duck.toSet) ++ (duck.toSet diff got.toSet)
    assert(differ.isEmpty && got.size > edge.size, differ.take(6))
    edge.foreach { e =>
      val t = java.time.LocalDateTime.parse(e.replace(' ', 'T'))
      assert(got(e) == java.time.temporal.ChronoUnit.MICROS.between(
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0), t), e)
    }
  }

  test("ring/disk cells expressions match core") {
    import spark.implicits._
    val c = CellMath.lonLatToCell(8, 10.0, 50.0)
    val r = Seq(c).toDF("cell")
      .select(F.ringCells(col("cell"), lit(2)).as("ring"),
        F.diskCells(col("cell"), lit(2)).as("disk"))
      .head()
    assert(r.getSeq[Long](0).toArray.sorted.sameElements(CellMath.ringCells(c, 2).sorted))
    assert(r.getSeq[Long](1).length == 25)
  }

  test("rect_wkb + pip_wkb: half-open [w,e) x [s,n) semantics") {
    import spark.implicits._
    val df = Seq((0.0, 0.0, 10.0, 10.0)).toDF("w", "s", "e", "n")
      .withColumn("g", F.rectWkb(col("w"), col("s"), col("e"), col("n")))
    val cases = Seq(
      (5.0, 5.0, true), (0.0, 5.0, true), (10.0, 5.0, false),
      (5.0, 0.0, true), (5.0, 10.0, false), (0.0, 0.0, true),
      (-1.0, 5.0, false), (11.0, 5.0, false))
    cases.foreach { case (lon, lat, want) =>
      val got = df.select(F.pipWkb(col("g"), lit(lon), lit(lat))).head().getBoolean(0)
      assert(got == want, s"pip($lon,$lat) want=$want got=$got")
    }
  }

  test("tile_cover of a rect equals the tile-range cross product") {
    import spark.implicits._
    val (w, s, e, n) = (8.3, 47.2, 11.7, 49.9)
    val cover = Seq(1).toDF("i")
      .select(F.tileCover(F.rectWkb(lit(w), lit(s), lit(e), lit(n)), lit(8)).as("c"))
      .head().getSeq[Long](0).toSet
    val xs = CellMath.lonToX(8, w) to CellMath.lonToX(8, e)
    val ys = CellMath.latToY(8, n) to CellMath.latToY(8, s)
    val expect = (for { x <- xs; y <- ys } yield CellMath.pack(8, x, y)).toSet
    assert(cover == expect)
  }

  test("tokenize / extract_text expressions match core") {
    import spark.implicits._
    val html = "<html><title>T&amp;t</title><body><p>Hello  <b>World</b></p><script>no()</script></body></html>"
    val r = Seq((html.getBytes("UTF-8"), "Hash JOIN, fast!")).toDF("h", "t")
      .select(F.extractText(col("h")).as("x"), F.tokenize(col("t")).as("k"),
        F.phraseForm(col("t")).as("p"))
      .head()
    assert(r.getString(0) == Text.extractText(html.getBytes("UTF-8")))
    assert(r.getSeq[String](1) == Text.tokenize("Hash JOIN, fast!").toSeq)
    assert(r.getString(2) == Text.phraseForm("Hash JOIN, fast!"))
  }

  test("del_keys equals the HOF deletion-neighborhood derivation") {
    import spark.implicits._
    val toks = Seq("paris", "a", "", "tokyo", "aa").toDF("tok")
    val viaNative = toks.select(col("tok"), F.delKeys(col("tok")).as("dk"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    val viaHof = toks.select(col("tok"),
        expr("array_distinct(transform(sequence(0, length(tok)), i -> concat(left(tok, i), substr(tok, i+2))))").as("dk"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    // same SET of keys suffices for blocking; the HOF emits the identity
    // key at i=length, the native form appends it last — orders align too
    assert(viaNative.view.mapValues(_.toSet).toMap == viaHof.view.mapValues(_.toSet).toMap)
  }

  test("sorted_inter_count equals size(array_intersect) on sorted distinct longs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { _ =>
      (Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).distinct.sorted,
       Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toLong).distinct.sorted)
    }
    val got = rows.toDF("a", "b")
      .select(F.sortedInterCount(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).as("m"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("window_strings equals per-length slicing with per-doc dedup") {
    import spark.implicits._
    val docs = Seq("the hash join data pipeline", "one", "a a a b", "").toDF("text")
    val lengths = Seq(2, 3)
    val viaNative = docs.select(col("text"),
        explode(F.windowStrings(col("text"), lengths)).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaSlices = docs
      .withColumn("toks", F.tokenize(col("text")))
      .select(col("text"), explode(flatten(transform(
        array(lengths.map(lit): _*), l =>
          when(size(col("toks")) >= l,
            transform(sequence(lit(1), size(col("toks")) - l + lit(1)),
              i => array_join(slice(col("toks"), i, l), " ")))
            .otherwise(array().cast("array<string>"))))).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaNative == viaSlices)
  }

  test("haversine column mirrors core within 1e-9 (London-Paris ~343.5km)") {
    import spark.implicits._
    val d = Seq((-0.1276, 51.5072, 2.3522, 48.8566)).toDF("a", "b", "c", "d")
      .select(F.haversineKm(col("a"), col("b"), col("c"), col("d"))).head().getDouble(0)
    assert(math.abs(d - Geo.haversineKm(-0.1276, 51.5072, 2.3522, 48.8566)) < 1e-9)
    assert(math.abs(d - 343.5) < 1.0)
  }

  test("sparkHaversineKm is F.haversineKm bit for bit (interpreted and codegen)") {
    import spark.implicits._
    val r = new scala.util.Random(20261019L)
    def lon() = r.nextDouble() * 360.0 - 180.0
    def lat() = r.nextDouble() * 180.0 - 90.0
    val nan = Double.NaN
    val special = Seq(
      (2.3522, 48.8566, 2.3522, 48.8566), (0.0, 0.0, 0.0, 0.0),         // identical points
      (0.0, 0.0, 180.0, 0.0), (10.0, 20.0, -170.0, -20.0),              // antipodes
      (0.0, 90.0, 123.0, 90.0), (0.0, 90.0, 0.0, -90.0), (45.0, -90.0, 45.0, 89.999),  // poles
      (179.9, 10.0, -179.9, 10.0), (-180.0, 0.0, 180.0, 0.0),           // the antimeridian
      (179.999999, -45.0, -179.999999, -45.000001),
      (nan, 10.0, 20.0, 30.0), (10.0, nan, 20.0, 30.0),                 // NaN: least keeps 1.0
      (10.0, 20.0, nan, nan), (nan, nan, nan, nan),
      (-0.0, -0.0, 0.0, 0.0), (1e-12, 0.0, 0.0, 0.0))
    val random = Seq.fill(2000)((lon(), lat(), lon(), lat())) ++
      Seq.fill(500) { val (a, b) = (lon(), lat()); (a, b, a + r.nextGaussian() * 1e-3, b + r.nextGaussian() * 1e-3) }
    val pairs = special ++ random
    val dist = F.haversineKm(col("a"), col("b"), col("c"), col("d")).as("dist")
    val df = pairs.toDF("a", "b", "c", "d")
    // a projection over a local relation is evaluated by the optimizer
    // (interpreted); behind a shuffle it runs in generated code
    Seq("interpreted" -> df, "codegen" -> df.repartition(3)).foreach { case (what, in) =>
      val got = in.select(col("a"), col("b"), col("c"), col("d"), dist).collect()
      assert(got.length == pairs.length, what)
      got.foreach { row =>
        val want = Geo.sparkHaversineKm(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
        assert(java.lang.Double.doubleToRawLongBits(row.getDouble(4)) == java.lang.Double.doubleToRawLongBits(want),
          s"$what: ${(row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))} -> " +
            s"${row.getDouble(4)} vs $want")
      }
    }
    assert(Geo.sparkHaversineKm(nan, 10.0, 20.0, 30.0) == 2.0 * Geo.EarthRadiusKm * math.asin(1.0))
  }
}
