package graft.spark

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.queries.Queries

/** D9 segment-intersection join + grid DBSCAN: blocked distributed plans
  * vs brute-force driver references (full semantics, not just row counts). */
class SegDbscanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // ---- driver-side exact reference for proper segment crossing ----
  private type Seg = (Long, Long, Long, Long, Long) // id, x1, y1, x2, y2 (milli)
  private def orient(px: Long, py: Long, qx: Long, qy: Long,
                     rx: Long, ry: Long): Long =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)
  private def properCross(a: Seg, b: Seg): Option[(Long, Long, Long)] = {
    val o1 = orient(a._2, a._3, a._4, a._5, b._2, b._3)
    val o2 = orient(a._2, a._3, a._4, a._5, b._4, b._5)
    val o3 = orient(b._2, b._3, b._4, b._5, a._2, a._3)
    val o4 = orient(b._2, b._3, b._4, b._5, a._4, a._5)
    val cross = ((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
      ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))
    if (!cross) None
    else {
      val den0 = (a._2 - a._4) * (b._3 - b._5) - (a._3 - a._5) * (b._2 - b._4)
      val cab = a._2 * a._5 - a._3 * a._4
      val ccd = b._2 * b._5 - b._3 * b._4
      val pxn = cab * (b._2 - b._4) - (a._2 - a._4) * ccd
      val pyn = cab * (b._3 - b._5) - (a._3 - a._5) * ccd
      val sg = if (den0 < 0) -1L else 1L
      Some((pxn * sg, pyn * sg, den0 * sg))
    }
  }

  private def segDf(segs: Seq[Seg]) = {
    import spark.implicits._
    segs.toDF("seg_id", "qx1", "qy1", "qx2", "qy2")
      .select(col("seg_id"), (col("qx1") / 1000.0).as("x1"),
        (col("qy1") / 1000.0).as("y1"), (col("qx2") / 1000.0).as("x2"),
        (col("qy2") / 1000.0).as("y2"))
  }

  test("segJoinOf matches the brute reference on crossing/touching/collinear cases") {
    // milli-degree lattice fixture: an X crossing, a T endpoint-touch
    // (excluded), collinear overlap (excluded), vertical×horizontal cross
    // (zero-width bboxes), and a multi-cell long-span crossing at z6
    val segs: Seq[Seg] = Seq(
      (1L, 0L, 0L, 2000L, 2000L),        // X leg 1
      (2L, 0L, 2000L, 2000L, 0L),        // X leg 2 -> crosses 1 at (1,1)
      (3L, 2000L, 2000L, 4000L, 2000L),  // T bar touching seg 1's endpoint
      (4L, 500L, 500L, 1500L, 1500L),    // collinear inside seg 1
      (5L, 3000L, -1000L, 3000L, 1000L), // vertical
      (6L, 2500L, 0L, 3500L, 0L),        // horizontal -> crosses 5 at (3,0)
      (7L, -8000L, -8000L, 8000L, 8000L),  // long diagonal spanning z6 cells
      (8L, -8000L, 8000L, 8000L, -8000L),  // crosses 7 at origin
      (9L, 50000L, 50000L, 52000L, 52000L)) // far away, isolated
    val got = Queries.segJoinOf(segDf(segs), 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = (for {
      a <- segs; b <- segs if a._1 < b._1
      p <- properCross(a, b)
    } yield ((a._1, b._1), p)).toMap
    assert(got == want)
    assert(want.contains((1L, 2L)) && want.contains((5L, 6L)) && want.contains((7L, 8L)))
    assert(!want.contains((1L, 3L)) && !want.contains((1L, 4L)))
    // exact rational point: X crossing at (1.0, 1.0) degrees = 1000 milli
    val (pxn, pyn, den) = got((1L, 2L))
    assert(pxn == 1000L * den && pyn == 1000L * den && den > 0)
  }

  test("seg_join over the synth layer is exactly-once and matches brute") {
    val blocked = Queries.segJoin(spark, sf)
    val rows = blocked.collect()
    assert(rows.length == rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
    assert(rows.nonEmpty)
    // brute reference over the same segments, driver-side
    val segs = graft.synth.Synth.custFeatures(spark, sf)
      .select(col("feature_id"),
        round((col("west") - 1.5) * 1000, 0).cast("long").as("w"),
        round((col("south") - 1.5) * 1000, 0).cast("long").as("s"),
        round((col("east") + 1.5) * 1000, 0).cast("long").as("e"),
        round((col("north") + 1.5) * 1000, 0).cast("long").as("n"))
      .collect().flatMap { r =>
        val (fid, w, s, e, n) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        Seq((fid * 2, w, s, e, n), (fid * 2 + 1, w, n, e, s))
      }.toSeq
    val want = (for {
      a <- segs; b <- segs if a._1 < b._1
      p <- properCross(a, b)
    } yield ((a._1, b._1), p)).toMap
    val got = rows.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
    // every rect's own diagonals cross: at least one row per feature
    assert(want.keySet.exists { case (x, y) => y == x + 1 && x % 2 == 0 })
  }

  /** Driver-side DBSCAN over (id, xq, yq): core = ≥ 3 neighbors within
    * eps, clusters = core connected components labelled by their min id,
    * a border point takes the min label of its core neighbors. */
  private def bruteDbscan(pts: Seq[(Long, Long, Long)], eps: Long): Set[(Long, Long, String)] = {
    val nbrs: Map[Long, Set[Long]] = pts.map { p =>
      p._1 -> pts.filter(q => q._1 != p._1 &&
        (p._2 - q._2) * (p._2 - q._2) + (p._3 - q._3) * (p._3 - q._3) <= eps * eps)
        .map(_._1).toSet
    }.toMap
    val core = pts.map(_._1).filter(id => nbrs(id).size >= 3).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var r = x0; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    for (a <- core; b <- nbrs(a) if core(b) && a < b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val coreLbl = core.map(id => id -> find(id)).toMap
    val borderLbl = pts.map(_._1).filterNot(core)
      .flatMap { id =>
        val cn = nbrs(id).filter(core)
        if (cn.isEmpty) None else Some(id -> cn.map(coreLbl).min)
      }.toMap
    coreLbl.map { case (k, v) => (k, v, "core") }.toSet ++
      borderLbl.map { case (k, v) => (k, v, "border") }.toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("dbscan matches a brute-force driver DBSCAN on sf0.001 events") {
    val pts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"),
        (col("event_id") * col("event_id") * 7919 + col("event_id") * 104729) % 360000 - 180000,
        (col("event_id") * col("event_id") * 104729 + col("event_id") * 7919) % 160000 - 80000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val eps = math.floor(214000.0 / math.sqrt(pts.length.toDouble)).toLong
    val want = bruteDbscan(pts, eps)
    assert(want.exists(_._3 == "core"))
    assert(rows(Queries.dbscan(spark, sf)) == want)
  }

  test("dbscan eps stays at least 1 past n = 214000²") {
    // ⌊214000/√n⌋ is 0 for n = 5·10^10; eps clamps to 1 (a zero-width grid
    // divides by zero under ANSI). Two 3×3 unit blocks (cores: centre and
    // edge midpoints, borders: corners), a unit-step line (no core), and a
    // lone point at the grid's low corner.
    import spark.implicits._
    val block = (x0: Long, y0: Long, id0: Long) =>
      for (i <- 0 until 3; j <- 0 until 3) yield (id0 + 3 * i + j, x0 + i, y0 + j)
    val pts = block(0L, 0L, 1L) ++ block(179997L, 79997L, 20L) ++
      (0 until 5).map(i => (40L + i, 5000L + i, -3000L)) :+ ((99L, -180000L, -80000L))
    val want = bruteDbscan(pts, 1L)
    assert(want.count(_._3 == "core") == 10 && want.count(_._3 == "border") == 8)
    assert(rows(Queries.dbscanOf(pts.toDF("id", "xq", "yq"), 50000000000L)) == want)
  }

  test("dbscan and speed_filter stay exact on event ids past 10^7 and near 2^62 under ANSI") {
    // the unreduced scatter k·k·104729 leaves the Long range at k = 9,384,506;
    // the twins reduce k first. Ids are chosen so two thirds land in one
    // 30,000-milli box (dbscan finds clusters there) and the rest scatter.
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean)
    def sc(k: Long, c1: Int, c2: Int, m: Int): Long =
      ((BigInt(k) * k * c1 + BigInt(k) * c2) % m).toLong
    def pt(k: Long) = (k, sc(k, 7919, 104729, 360000) - 180000, sc(k, 104729, 7919, 160000) - 80000)
    val ids = Seq(10000000L, (1L << 62) - 100000L).flatMap { base =>
      val boxed = Iterator.from(0).map(base + _).filter { k =>
        val (_, x, y) = pt(k); x >= 0 && x < 30000 && y >= 0 && y < 30000
      }.take(40).toSeq
      boxed ++ (base until base + 20)
    }.distinct
    val t0 = 1700000000000000L
    val ev = ids.zipWithIndex.map { case (k, i) =>
      // ten fixes per user; every fifth repeats its predecessor's timestamp
      // (the dt = 0 branch)
      (k, (i / 10).toLong, new java.sql.Timestamp((t0 + (i - (if (i % 5 == 4) 1 else 0)) * 600000000L) / 1000))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-scatter").toString
    ev.toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(s"$dir/events.parquet")

    val pts = ids.map(pt)
    val eps = math.floor(214000.0 / math.sqrt(ids.length.toDouble)).toLong
    val wantDb = bruteDbscan(pts, eps)
    assert(wantDb.exists(_._3 == "core") && wantDb.exists(_._1 > (1L << 61)))
    assert(rows(Queries.dbscan(spark, dir)) == wantDb)

    val pos = pts.map(p => p._1 -> p).toMap
    val wantSf = ev.groupBy(_._2).toSeq.flatMap { case (u, rs) =>
      val tr = rs.map { case (k, _, ts) => (k, ts.getTime * 1000L) }.sortBy(r => (r._2, r._1))
      tr.zip(tr.drop(1)).map { case ((pk, pus), (k, us)) =>
        val (px, py, x, y) = (pos(pk)._2, pos(pk)._3, pos(k)._2, pos(k)._3)
        val d2 = (x - px) * (x - px) + (y - py) * (y - py)
        val dt = us - pus
        (u, k, d2, dt, if (dt == 0) d2 > 0 else d2.toDouble / (dt.toDouble * dt.toDouble) > 1e-9)
      }
    }.toSet
    val gotSf = Queries.speedFilter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSet
    assert(gotSf == wantSf && wantSf.exists(_._4 == 0))

    // the SQL twin, evaluated by DuckDB over the same file
    val sql = s"WITH events AS (SELECT * FROM read_parquet('$dir/events.parquet/*.parquet')) " +
      s"SELECT id, xq, yq FROM (${graft.synth.Synth.dbscanPointsSql})"
    val py = "import sys, duckdb\nfor r in duckdb.sql(sys.argv[1]).fetchall():\n" +
      "    print(','.join(str(v) for v in r))"
    val duck = scala.sys.process.Process(Seq("python3", "-c", py, sql)).!!.trim.split("\n")
      .map(_.split(",").map(_.toLong)).map(a => (a(0), a(1), a(2))).toSet
    assert(duck == pts.toSet)
  }
}
