package graft.spark

import graft.queries.Queries
import graft.synth.Synth
import graft.core.CellMath

/** theil_sen / emerging_hotspot / geofence_events / areal_interp vs
  * independent plain-Scala recomputations (the ORACLE mirror is the
  * bit-exact gate; these pin the semantics against a second
  * implementation). Integer outputs compare exactly; z doubles to 1e-9
  * after the same round-to-6. */
class SpaceTimeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def eventsRaw(): Array[(Long, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, Long, Long)].collect()
  }

  private def evLon(id: Long): Double = (id * 7919 % 360000) / 1000.0 - 180.0
  private def evLat(id: Long): Double = (id * 104729 % 160000) / 1000.0 - 80.0

  /** Dense 8-bin count series per z5 cell (the mk_trend binning). */
  private def denseCounts(): Map[Long, Array[Long]] = {
    val ev = eventsRaw()
    val mn = ev.map(_._3).min
    val mx = ev.map(_._3).max
    ev.groupBy { case (id, _, _) => CellMath.lonLatToCell(5, evLon(id), evLat(id)) }
      .map { case (c, rows) =>
        val arr = Array.fill(8)(0L)
        rows.foreach { case (_, _, us) => arr((((us - mn) * 8) / (mx - mn + 1)).toInt) += 1 }
        c -> arr
      }
  }

  test("theil_sen matches a plain-Scala recomputation") {
    val want = denseCounts().map { case (c, arr) =>
      var s = 0L
      for (j <- 1 until 8; i <- 0 until j) s += java.lang.Long.signum(arr(j) - arr(i))
      val slopes = (for (j <- 1 until 8; i <- 0 until j)
        yield (arr(j) - arr(i)).toDouble / (j - i).toDouble).sorted
      c -> ((arr.sum, s, r6((slopes(13) + slopes(14)) / 2.0)))
    }
    val got = Queries.theilSen(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == want.size)
    want.foreach { case (c, (wn, ws, wsl)) =>
      val (gn, gs, gsl) = got(c)
      assert(gn == wn && gs == ws, s"cell $c ints drifted")
      assert(math.abs(gsl - wsl) < 1e-9, s"cell $c slope: $gsl vs $wsl")
    }
    assert(want.values.exists(_._3 != 0.0), "all-zero slopes: fixture vacuous")
  }

  test("emerging_hotspot matches a plain-Scala per-bin Gi* + MK recomputation") {
    val ev = eventsRaw()
    val mn = ev.map(_._3).min
    val mx = ev.map(_._3).max
    // (cell6, bin) counts
    val cnt = ev.groupBy { case (id, _, us) =>
      (CellMath.lonLatToCell(6, evLon(id), evLat(id)), ((us - mn) * 8) / (mx - mn + 1))
    }.map { case (k, a) => k -> a.length.toLong }
    // per-bin occupied-cell moments
    val byBin = cnt.groupBy(_._1._2)
    val moments = byBin.map { case (b, m) =>
      val vs = m.values
      b -> ((m.size.toLong, vs.sum, vs.map(v => v * v).sum))
    }
    // per-(cell,bin) z via the giZExpr arithmetic
    val z = cnt.map { case ((c, b), v) =>
      val (x, y) = (CellMath.xOf(c), CellMath.yOf(c))
      var (sm, wn) = (0L, 0L)
      for (dx <- -1 to 1; dy <- -1 to 1) {
        val (nx, ny) = (x + dx, y + dy)
        if (nx >= 0 && nx < 64 && ny >= 0 && ny < 64) {
          cnt.get((CellMath.pack(6, nx, ny), b)).foreach { u => sm += u; wn += 1 }
        }
      }
      val (n, sumc, sumc2) = moments(b)
      val mean = sumc.toDouble / n
      val s2 = sumc2.toDouble / n - mean * mean
      val zv =
        if (n <= 1 || wn * (n - wn) <= 0 || s2 <= 0) 0.0
        else r6((sm - mean * wn) /
          (math.sqrt(s2) * math.sqrt((n.toDouble * wn - wn.toDouble * wn) / (n - 1.0))))
      (c, b) -> ((v, zv))
    }
    val want = z.groupBy(_._1._1).map { case (c, m) =>
      val arr = Array.fill(8)(0.0)
      var nEvents = 0L
      m.foreach { case ((_, b), (v, zv)) => arr(b.toInt) = zv; nEvents += v }
      var s = 0L
      for (j <- 1 until 8; i <- 0 until j) s += math.signum(arr(j) - arr(i)).toLong
      val varNum = 1176 - arr.map(v => arr.count(_ == v).toLong)
        .map(t => (t - 1) * (2 * t + 5)).sum
      val zmk =
        if (varNum <= 0 || s == 0) 0.0
        else r6((s + (if (s > 0) -1 else 1)) / math.sqrt(varNum.toDouble / 18.0))
      val hotCnt = arr.count(_ >= 1.96).toLong
      val lastHot = arr(7) >= 1.96
      val label =
        if (hotCnt == 0) "none"
        else if (lastHot && hotCnt == 1) "new"
        else if (lastHot && hotCnt == 8 && zmk >= 1.645) "intensifying"
        else if (lastHot && hotCnt == 8) "persistent"
        else if (lastHot && zmk >= 1.645) "emerging"
        else if (lastHot) "occasional"
        else if (zmk <= -1.645) "diminishing"
        else "historical"
      c -> ((nEvents, hotCnt, s, zmk, label))
    }
    val got = Queries.emergingHotspot(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (c, (wn, wh, ws, wz, wl)) =>
      val (gn, gh, gs, gz, gl) = got(c)
      assert(gn == wn && gh == wh && gs == ws && gl == wl, s"cell $c drifted")
      assert(math.abs(gz - wz) < 1e-9, s"cell $c z_mk: $gz vs $wz")
    }
  }

  test("geofence_events matches a plain-Scala transition recomputation") {
    import spark.implicits._
    val fences = spark.read.parquet(s"$sf/nation.parquet")
      .selectExpr("CAST(n_nationkey AS BIGINT)").as[Long].collect().sorted
      .map { k =>
        val lon = (k * 7919 % 300000) / 1000.0 - 150.0
        val lat = (k * 104729 % 120000) / 1000.0 - 60.0
        (k, lon - 15.0, lat - 10.0, lon + 15.0, lat + 10.0)
      }
    def fenceOf(lon: Double, lat: Double): Long =
      fences.collectFirst {
        case (k, w, s0, e, n) if lon >= w && lon < e && lat >= s0 && lat < n => k
      }.getOrElse(-1L) // ids ascend, so first hit IS min(feature_id)
    val want = eventsRaw()
      .map { case (id, u, us) => (u, us, id, fenceOf(evLon(id), evLat(id))) }
      .groupBy(_._1).flatMap { case (u, rows) =>
        rows.sortBy(r => (r._2, r._3)).sliding(2).collect {
          case Array((_, _, _, f0), (_, us, id, f1)) if f0 != f1 =>
            (u, id, us, f0, f1,
              if (f0 == -1L) "enter" else if (f1 == -1L) "exit" else "switch")
        }
      }.toSet
    val got = Queries.geofenceEvents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet
    assert(got == want)
    assert(Set("enter", "exit", "switch").subsetOf(got.map(_._6)), "kinds vacuous")
  }

  test("hex_bin matches an independent cube-round reference and conserves count") {
    import spark.implicits._
    def hexRef(xm: Long, ym: Long): (Long, Long) = {
      val (x, y) = (xm.toDouble, ym.toDouble)
      val q0 = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / 9000.0
      val r0 = y * 2.0 / 3.0 / 9000.0
      val y0 = -q0 - r0
      // ties-away-from-zero like both engines' round() (math.round is
      // half-toward-positive-infinity — wrong for negative .5 ties)
      def rnd(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      var (rx, ry, rz) = (rnd(q0), rnd(y0), rnd(r0))
      val (dx, dy, dz) = (math.abs(rx - q0), math.abs(ry - y0), math.abs(rz - r0))
      if (dx > dy && dx > dz) rx = -ry - rz
      else if (dy > dz) ry = -rx - rz
      else rz = -rx - ry
      (rx, rz)
    }
    val ids = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id").as[Long].collect()
    val want = ids.map(id =>
        hexRef(id * 7919 % 360000 - 180000, id * 104729 % 160000 - 80000))
      .groupBy(identity).map { case (k, a) => k -> a.length.toLong }
    val got = Queries.hexBin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.values.sum == ids.length.toLong, "count not conserved")
    // every repaired bin satisfies the cube constraint by construction;
    // the fixture must span many bins for the repair branches to fire
    assert(got.size > 100, s"only ${got.size} hexes: repair untested")
  }

  test("hex_smooth / decay_heat / speed_filter match plain-Scala recomputations") {
    import spark.implicits._
    // hex_smooth: 7-probe neighbor sums over the hex_bin counts
    val counts = Queries.hexBin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dirs = Seq((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1), (0, 0))
    val wantHex = counts.map { case ((q, r), c) =>
      val hits = dirs.flatMap { case (dq, dr) => counts.get((q - dq, r - dr)) }
      (q, r) -> ((c, hits.sum, hits.size.toLong))
    }
    val gotHex = Queries.hexSmooth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(gotHex == wantHex)

    // decay_heat: per-event quantized exp weights summed per cell
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, Long)].collect()
    val mx = ev.map(_._2).max
    val wantHeat = ev.groupBy { case (id, _) =>
      graft.core.CellMath.lonLatToCell(6,
        (id * 7919 % 360000) / 1000.0 - 180.0, (id * 104729 % 160000) / 1000.0 - 80.0)
    }.map { case (c, rows) =>
      val hq = rows.map { case (_, us) =>
        BigDecimal(math.exp(-((mx - us).toDouble / 432000000000.0)) * 1000000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      c -> ((rows.length.toLong, hq))
    }
    val gotHeat = Queries.decayHeat(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotHeat == wantHeat)

    // speed_filter: pairwise implied-speed flags
    val evu = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, Long, Long)].collect()
    val wantTp = evu.groupBy(_._2).toSeq.flatMap { case (u, rows) =>
      val pts = rows.sortBy(r => (r._3, r._1)).map { case (id, _, us) =>
        (id, us,
          (id * id * 7919 + id * 104729) % 360000 - 180000,
          (id * id * 104729 + id * 7919) % 160000 - 80000)
      }
      pts.zip(pts.drop(1)).map { case ((_, pus, px, py), (id, us, x, y)) =>
        val d2 = (x - px) * (x - px) + (y - py) * (y - py)
        val dt = us - pus
        val tp = if (dt == 0) d2 > 0
          else d2.toDouble / (dt.toDouble * dt.toDouble) > 1e-9
        (u, id, d2, dt, tp)
      }
    }.toSet
    val gotTp = Queries.speedFilter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(gotTp == wantTp)
    assert(gotTp.exists(_._5) && gotTp.exists(!_._5), "teleport flag vacuous")
  }

  test("sample_weighted matches an E-S exponential-key recomputation and skews long") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("lang", "doc_id", "CAST(n_chars AS BIGINT)")
      .as[(String, Long, Long)].collect()
    val want = docs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.map { case (l, d, nc) =>
        val u = ((graft.core.Fingerprint.mix64(d) >>> 1) % 1000000007L + 1).toDouble / 1000000007.0
        (l, d, nc, -math.log(u) / nc)
      }.sortBy(r => (r._4, r._2)).take(25).zipWithIndex
        .map { case ((l, d, nc, _), i) => (l, d, nc, (i + 1).toLong) }
    }.toSet
    val out = graft.ops.TextOps.weightedSample(
      spark.read.parquet(s"$sf/documents.parquet")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == want)
    val sampledMean = out.toSeq.map(_._3).sum.toDouble / out.size
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampledMean > corpusMean, s"no length skew: $sampledMean vs $corpusMean")
  }

  test("areal_interp matches an exact integer recomputation and conserves mass") {
    import spark.implicits._
    val keys = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey").as[Long].collect()
    val cells = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    var totalQ = 0L
    keys.foreach { k =>
      val pop = k % 1000 + 10
      val cw = k * 7919 % 350000 - 175000; val ch = k * 104729 % 160000 - 80000
      val (hw, hh) = (300 + (k % 7) * 150, 200 + (k % 5) * 100)
      val (wm, sm, em, nm) = (cw - hw, ch - hh, cw + hw, ch + hh)
      val sa = (em - wm) * (nm - sm)
      for {
        gx <- (wm + 180000) / 15000 to (em - 1 + 180000) / 15000
        gy <- (sm + 100000) / 10000 to (nm - 1 + 100000) / 10000
      } {
        val ia = (math.min(em, (gx + 1) * 15000 - 180000) - math.max(wm, gx * 15000 - 180000)) *
          (math.min(nm, (gy + 1) * 10000 - 100000) - math.max(sm, gy * 10000 - 100000))
        val q = pop * ia * 1000000000L / sa
        totalQ += q
        val (n0, q0) = cells.getOrElse((gx, gy), (0L, 0L))
        cells((gx, gy)) = (n0 + 1, q0 + q)
      }
    }
    val got = Queries.arealInterp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == cells.size && got == cells.toMap)
    // mass conservation: quantized shares can only lose the div floors
    val exact = keys.map(k => (k % 1000 + 10) * 1000000000L).sum
    assert(totalQ <= exact && exact - totalQ <= 4L * keys.length,
      s"mass drift: $totalQ vs $exact")
    assert(cells.values.exists(_._1 > 1), "no multi-source target cell: blocking vacuous")
  }
}
