package graft.spark

import graft.queries.Queries

/** ripley_k + knox vs brute O(n²) pair enumeration at sf0.001 (499,500
  * pairs, driver-side): proves the 3×3 / {b,b+1} blocking schemes drop
  * nothing and double-count nothing, independently of the DuckDB oracle
  * (which proves the same via unblocked IEJoins at the gate SFs).
  * Integer pair counts compare exactly; the normalized doubles to 1e-9
  * after the same round-to-6. */
class PairStatsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def quadPts(): Array[(Long, Long, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id AS id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "(event_id * event_id * 7919 + event_id * 104729) % 360000 - 180000 AS xq",
        "(event_id * event_id * 104729 + event_id * 7919) % 160000 - 80000 AS yq")
      .as[(Long, Long, Long, Long)].collect()
  }

  test("epsPairs matches brute pair enumeration on block borders, d = R and the grid edges") {
    import spark.implicits._
    // R-block borders sit at xq = −180000 + kR, yq = −80000 + kR
    val r = 10000L
    val pts = Seq(
      (1L, 0L, 0L), (2L, 10000L, 0L), (3L, 6000L, 8000L), (4L, 10001L, 0L),  // d = R, R + 1
      (5L, -170001L, -70001L), (6L, -169999L, -69999L), (7L, -169999L, -70001L),  // block corner
      (8L, -180000L, -80000L), (9L, -170000L, -80000L), (10L, -180000L, -70000L), // low edge
      (11L, 179999L, 79999L), (12L, 169999L, 79999L), (13L, 172928L, 72928L),   // high edge
      (14L, -180000L, 79999L), (15L, 179999L, -80000L), (16L, -175000L, 79999L),
      (17L, 20000L, 0L), (18L, 20000L, 0L))                                     // coincident
    val want = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2, a._1 * 10, b._1 * 10)).toSet
    val got = Queries.epsPairs(pts.toDF("id", "xq", "yq").withColumn("v", $"id" * 10), r, "v")
      .select("ia", "ib", "d2", "va", "vb").as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == want.size && got.toSet == want)
    Seq((1L, 2L), (1L, 3L), (2L, 17L), (5L, 6L), (8L, 9L), (8L, 10L), (11L, 12L), (14L, 16L), (17L, 18L))
      .foreach(p => assert(want.exists(w => (w._1, w._2) == p), s"fixture lost pair $p"))
    assert(!want.exists(w => (w._1, w._2) == ((1L, 4L))))
  }

  test("ripley_k matches brute pair counting at every radius") {
    val pts = quadPts()
    val radii = Seq(2500L, 5000L, 7500L, 10000L)
    val cnt = collection.mutable.Map(radii.map(_ -> 0L): _*)
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val (a, b) = (pts(i), pts(j))
      val d2 = (a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4)
      radii.foreach(r => if (d2 <= r * r) cnt(r) += 1)
    }
    val n = pts.length.toLong
    val got = Queries.ripleyK(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == radii.toSet)
    radii.foreach { r =>
      val (gp, gk) = got(r)
      assert(gp == cnt(r), s"r=$r pairs: $gp vs ${cnt(r)}")
      assert(gp > 0, s"r=$r vacuous")
      val wk = 115200.0 * cnt(r) / (n.toDouble * n)
      assert(math.abs(gk - r6(wk)) < 1e-9, s"r=$r k_hat: $gk vs $wk")
    }
  }

  test("knox matches brute space-time pair counting") {
    val pts = quadPts()
    val (delta, tau) = (10000L, 3600000000L)
    var (s, t, x) = (0L, 0L, 0L)
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val (a, b) = (pts(i), pts(j))
      val d2 = (a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4)
      val close = d2 <= delta * delta
      val near = math.abs(a._2 - b._2) <= tau
      if (close) s += 1
      if (near) t += 1
      if (close && near) x += 1
    }
    val n = pts.length.toLong
    val p = n * (n - 1) / 2
    val row = Queries.knox(spark, sf).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) == n && r.getLong(1) == p)
    assert(r.getLong(2) == s, s"s_pairs ${r.getLong(2)} vs $s")
    assert(r.getLong(3) == t, s"t_pairs ${r.getLong(3)} vs $t")
    assert(r.getLong(4) == x, s"x_pairs ${r.getLong(4)} vs $x")
    assert(s > 0 && t > 0 && x > 0, "vacuous fixture")
    val want = if (s * t == 0) 0.0 else x.toDouble * p / (s.toDouble * t)
    assert(math.abs(r.getDouble(5) - r6(want)) < 1e-9)
  }

  test("variogram matches brute annular bins and rises with distance") {
    val pts = quadPts()
    def v(id: Long, xq: Long, yq: Long): Long =
      (xq / 2500) * 3 + (yq / 2500) * 2 + (id % 7)
    val bins = Seq((0L, 2500L), (2500L, 5000L), (5000L, 7500L), (7500L, 10000L))
    val cnt = collection.mutable.Map(bins.map(_ -> (0L, 0L)): _*)
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val (a, b) = (pts(i), pts(j))
      val d2 = (a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4)
      bins.foreach { case bin @ (lo, hi) =>
        if (d2 > lo * lo && d2 <= hi * hi) {
          val dv = v(a._1, a._3, a._4) - v(b._1, b._3, b._4)
          val (c, ss) = cnt(bin)
          cnt(bin) = (c + 1, ss + dv * dv)
        }
      }
    }
    val got = Queries.variogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == bins.toSet)
    bins.foreach { case bin @ (lo, hi) =>
      val (wc, wss) = cnt(bin)
      val (gc, gss, gg) = got(bin)
      assert(gc == wc && gss == wss, s"bin ($lo,$hi]: ($gc,$gss) vs ($wc,$wss)")
      assert(gc > 0, s"bin ($lo,$hi] vacuous")
      assert(math.abs(gg - r6(wss.toDouble / (2.0 * wc))) < 1e-9)
    }
    // the trend surface must make the variogram rise monotonically
    val gammas = bins.map(got(_)._3)
    assert(gammas.sliding(2).forall { case Seq(a, b) => a < b },
      s"variogram not rising: $gammas")
  }

  test("moran_i matches a plain-Scala recomputation and detects clustering") {
    val cells = graft.synth.Synth.eventPoints(spark, sf).collect()
      .map(r => graft.core.CellMath.lonLatToCell(6, r.getDouble(1), r.getDouble(2)))
      .groupBy(identity).map { case (c, a) => c -> a.length.toLong }
    val n = cells.size.toLong
    val s0 = cells.values.sum
    val u = cells.map { case (c, x) => c -> (n * x - s0) }
    var (wSum, num, den) = (0L, 0L, 0L)
    u.foreach { case (c, ui) =>
      val (x, y) = (graft.core.CellMath.xOf(c), graft.core.CellMath.yOf(c))
      var su = 0L; var nn = 0L
      for (dx <- -1 to 1; dy <- -1 to 1) {
        val (nx, ny) = (x + dx, y + dy)
        if (nx >= 0 && nx < 64 && ny >= 0 && ny < 64)
          u.get(graft.core.CellMath.pack(6, nx, ny)).foreach { v => su += v; nn += 1 }
      }
      wSum += nn - 1
      num += ui * (su - ui)
      den += ui * ui
    }
    val want = n.toDouble * num / (wSum.toDouble * den)
    val row = Queries.moranI(spark, sf).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) == n && r.getLong(1) == wSum &&
      r.getLong(2) == num && r.getLong(3) == den,
      s"ints drifted: ${r.mkString(",")} vs ($n,$wSum,$num,$den)")
    assert(math.abs(r.getDouble(4) - r6(want)) < 1e-9)
  }
}
