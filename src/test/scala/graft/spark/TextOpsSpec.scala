package graft.spark

import org.apache.spark.sql.functions._
import graft.ops.{TextOps, Ann}
import graft.core.{Fingerprint, Text}

/** Dedup family + ANN contracts on planted near-duplicates. */
class TextOpsSpec extends SparkTestBase {

  private def docsDf = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, base + " extra", "en", "s", (base.length + 6).toLong), // near-dup of 0
      (2L, "completely different words about spark window functions and joins", "en", "s", 64L),
      (3L, base, "en", "s", base.length.toLong), // exact dup of 0
      // token-permuted near-dup of 0: identical bag-of-words (simhash
      // hamming = 0) but different byte sequence (not exact-collapsed)
      (4L, "quick the brown fox jumps over the lazy dog again and again tonight", "en", "s", base.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("dedup_exact keeps lowest id per text group") {
    val out = TextOps.dedupExact(docsDf).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 4L))
    assert(out(0L) == 2) // group of {0, 3}
  }

  test("minhash LSH finds planted near-dups; exact dups pre-collapse to reps") {
    val pairs = TextOps.dedupMinHash(docsDf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // near dup of the rep
    // doc 3 (exact dup of 0) collapses into rep 0 BEFORE banding — it never
    // reaches the pair join (dedupExact reports its group)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash blocking finds planted near-dup among reps, rejects unrelated") {
    val pairs = TextOps.dedupSimHash(docsDf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // permuted bag-of-words twin: hamming 0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // pre-collapsed
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("a planted exact-dup cluster does not explode the LSH pair join") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    val cluster = (10L until 510L).map(i => (i, base, "en", "s", base.length.toLong))
    val docs = (Seq(
      (0L, base + " extra word", "en", "s", (base.length + 11).toLong),
      (1L, "completely different words about spark window functions", "en", "s", 56L)
    ) ++ cluster).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = TextOps.dedupMinHash(docs).collect()
    // 500 identical docs collapse to rep 10; the only near-dup pair is
    // (0, 10) — NOT 500×499/2 intra-cluster pairs + 500 cross pairs
    assert(pairs.length == 1, s"expected 1 rep pair, got ${pairs.length}")
    assert(pairs.head.getLong(0) == 0L && pairs.head.getLong(1) == 10L)
  }

  test("in-row langIdNgram ≡ broadcast-join formulation (incl. overlapping trigrams)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s", 1L),
      (1L, "der schnelle braune fuchs springt und die hunde", "de", "s", 1L),
      (2L, "le renard brun rapide saute par dessus le chien", "fr", "s", 1L),
      // self-overlapping profile trigram ("ede", period 2): position-based
      // counting must score "ededede" as 3 occurrences, not replace()'s 2
      (3L, "ededede van het een", "nl", "s", 1L),
      (4L, "zzz qqq xxx", "xx", "s", 1L), // matches no profile trigram: no row
      (5L, "", "xx", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val inRow = rows(TextOps.langIdNgram(docs))
    val joined = rows(TextOps.langIdNgramJoin(docs))
    assert(inRow == joined, s"in-row $inRow vs join $joined")
    assert(!inRow.exists(r => r._1 == 4L || r._1 == 5L))
  }

  test("winnowing finds a copied passage between otherwise-different docs") {
    import spark.implicits._
    val passage = "the five boxing wizards jump quickly over the lazy dog tonight"
    val docs = Seq(
      (0L, s"intro words before $passage and some trailing content", "en", "s", 1L),
      (1L, s"completely other framing yet containing $passage inside it", "en", "s", 1L),
      (2L, "nothing in common with the others at all whatsoever here", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = TextOps.dedupWinnow(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"copied passage must share fingerprints, got $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("winnow kernel: shared-substring guarantee and density") {
    val k = 8; val w = 16
    val a = Fingerprint.winnow("x" * 5 + "some shared middle section of text" + "y" * 5, k, w)
    val b = Fingerprint.winnow("p" * 9 + "some shared middle section of text" + "q" * 3, k, w)
    assert(a.intersect(b).nonEmpty) // shared run >= w+k-1 chars
    val long = Fingerprint.winnow("abcdefgh" * 100, k, w)
    assert(long.length < 800 / 4) // density ~2/(w+1), far below one per char
    assert(Fingerprint.winnow("", k, w).isEmpty)
    assert(Fingerprint.winnow("tiny", k, w).length == 1)
  }

  test("minhash estimated jaccard tracks exact jaccard on shingle sets") {
    val a = Fingerprint.shingles(Text.tokenize("a b c d e f g h i j k l m n"), 3)
    val b = Fingerprint.shingles(Text.tokenize("a b c d e f g h i j k l x y"), 3)
    val exact = Fingerprint.jaccard(a, b)
    val sa = Fingerprint.minhash(a, 256)
    val sb = Fingerprint.minhash(b, 256)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - exact) < 0.15)
  }

  /** Deterministic planted-cluster embeddings: 40 base directions (queries,
    * ids 0..39) + 5 perturbed copies each (ids 40..239). A query's true
    * top-5 is its own cluster; random inter-cluster dot products are ~0
    * (components centered on 0). */
  private def plantedEmbN(nClusters: Int) = {
    import spark.implicits._
    def comp(seed: Long): Float =
      ((java.lang.Math.floorMod(Fingerprint.mix64(seed), 1000L) - 500L).toFloat / 1000.0f)
    def vec(c: Int, j: Int): Array[Float] = {
      val b = Array.tabulate(64)(i => comp(c * 64L + i))
      if (j == 0) b
      else b.zipWithIndex.map { case (v, i) =>
        v + 0.02f * comp((1000L + c * 8L + j) * 64L + i) }
    }
    val rows =
      (0 until nClusters).map(c => (c.toLong, vec(c, 0))) ++
      (for { c <- 0 until nClusters; j <- 1 to 5 }
        yield ((nClusters + c * 5 + (j - 1)).toLong, vec(c, j)))
    rows.toDF("vec_id", "embedding")
  }

  private def plantedEmb = plantedEmbN(40)

  test("LSH ANN: recall >= 0.9 on planted clusters, sub-quadratic candidates") {
    val emb = plantedEmb
    val brute = Ann.bruteForceTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall")
    // candidate pairs must stay far below the 40×239 cross-product: the
    // 16-bit buckets only collide cluster-mates (plus rare accidents)
    val nCand = Ann.lshCandidates(emb, 40).count()
    assert(nCand < 0.2 * 40 * 239, s"candidates=$nCand — bucketing degenerated")
  }

  test("adaptive LSH: occupancy cut prunes probes on dense buckets, ≡ full at ∞ budget") {
    val emb = plantedEmb
    val full = Ann.lshCandidates(emb, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unbounded = Ann.lshCandidatesAdaptive(emb, 40, budget = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unbounded == full, "∞ budget must reproduce the full multi-probe candidate set")
    // clusters make home buckets dense (≈6 mates): a small budget stops
    // probing after the earliest (lowest-flip) probes, shrinking candidates
    val cut = Ann.lshCandidatesAdaptive(emb, 40, budget = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut.subsetOf(full), "cut candidates must be a subset of the full ball")
    assert(cut.size < full.size,
      s"budget=4 should prune probes on the planted clusters (full=${full.size}, cut=${cut.size})")
    // recall survives: cluster mates share the HOME bucket (flips=0, always
    // probed), so the true top-5 neighbours stay reachable
    val brute = Ann.bruteForceTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adapt = Ann.lshTopKAdaptive(emb, 40, 5, budget = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(adapt).size.toDouble / brute.size
    assert(recall >= 0.9, s"adaptive recall=$recall")
  }

  test("IVF ANN finds cluster neighbors through probed cells") {
    val emb = plantedEmb
    val brute = Ann.bruteForceTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("trained IVF: one Lloyd round moves centroids to the data and holds recall") {
    val emb = plantedEmb
    // training must actually move centroids: with pseudo-random seeds over
    // clustered data, at least one cluster's rounded mean differs from its seed
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => floor(x * lit(1000.0) + lit(0.5)).cast("long")).as("q"))
    val trained = Ann.trainCentroids(base, 16).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(trained.size == 16, "every cid must survive (empty clusters keep their seed)")
    assert((0 until 16).exists(c => trained(c) != Ann.ivfCentroid(c).toSeq),
      "one Lloyd round left every centroid at its seed — training is a no-op")
    val brute = Ann.bruteForceTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopKTrained(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"trained-IVF recall=$recall")
  }

  test("PQ-ADC: codes bounded, training moves codebooks, recall on planted clusters") {
    val emb = plantedEmb
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => floor(x * lit(1000.0) + lit(0.5)).cast("long")).as("q"))
    val book = Ann.pqCodebooks(base).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    assert(book.size == 64, "4 subspaces x 16 codes must all survive")
    assert(book.exists { case ((m, c), cv) =>
      cv != Ann.ivfCentroid(c).slice(m * 16, (m + 1) * 16).toSeq },
      "one Lloyd round left every codebook entry at its seed")
    val pq = Ann.pqTopK(emb, 40, 5).collect()
    assert(pq.length == 40 * 5)
    // ADC is approximate: require that cluster mates dominate the top-5 —
    // planted copies share their direction, so per-subspace codes collide
    val brute = Ann.bruteForceTopK(emb, 40, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.4, s"PQ-ADC recall=$recall")
  }

  test("k-means: 3 Lloyd rounds assign every vector once with exact sizes, deterministic") {
    val emb = plantedEmb // 240 vectors: 40 planted directions × (1 base + 5 copies)
    val out = Ann.kmeansAssign(emb, nList0 = 16).collect()
    assert(out.length == 240)
    assert(out.map(_.getLong(0)).distinct.length == 240, "a vector was assigned twice or dropped")
    out.groupBy(_.getInt(1)).foreach { case (cid, rows) =>
      assert(rows.forall(_.getLong(2) == rows.length), s"csize wrong for cid=$cid")
    }
    // training is deterministic end-to-end (integer dots, single-division means)
    val again = Ann.kmeansAssign(emb, nList0 = 16).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      again.map(r => (r.getLong(0), r.getInt(1))).toSet)
    // planted cluster-mates co-assign after training: for most of the 40
    // directions, all 6 members (base + 5 perturbed copies) share one cell
    val cidOf = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pure = (0 until 40).count { c =>
      val members = c.toLong +: (0 until 5).map(j => (40 + c * 5 + j).toLong)
      members.map(cidOf).distinct.size == 1
    }
    assert(pure >= 28, s"only $pure/40 planted clusters are cell-pure after 3 Lloyd rounds")
  }

  test("semantic dedup: planted twins dropped, orthogonal bases survive") {
    val emb = plantedEmb
    val ids = Ann.semanticDedup(emb, nList0 = 16)
      .collect().map(_.getLong(0)).toSet
    // withDupCopies plants an IDENTICAL twin at vec_id + 10^7 for every
    // vec_id % 10 == 0: cos = 1 with its (lower-id) base in the same cell
    assert(!ids.exists(_ >= 10000000L), "an identical planted twin survived")
    // distinct planted directions are near-orthogonal (cos ≈ 0), so every
    // base direction id (the lowest id of its cluster) must survive
    assert((0L until 40L).forall(ids.contains), "a base direction was wrongly dropped")
    assert(ids.size <= 240 && ids.size >= 40)
  }

  test("IVF derived nList keeps the cell self-join sub-quadratic at 10x corpus") {
    // blocked pair count = Σ c_i·(c_i−1)/2 over cell occupancies — the cost
    // of dedupEmbed's self-join. With the FROZEN nList=16 this is ~n²/16 at
    // any n; with the derived √n sizing it must (a) beat frozen at the same
    // corpus and (b) grow sub-quadratically across a 10× corpus scale-up.
    def blockedPairs(emb: org.apache.spark.sql.DataFrame, nList: Int): Double =
      Ann.assignCells(emb, nList).groupBy("cid").count()
        .agg(sum(col("count") * (col("count") - lit(1)) / lit(2.0)))
        .head().getDouble(0)
    val small = plantedEmbN(40)   // n = 240
    val big = plantedEmbN(400)    // n = 2400
    val pSmall = blockedPairs(small, Ann.derivedNListDedup(240))
    val pBigDerived = blockedPairs(big, Ann.derivedNListDedup(2400))
    val pBigFrozen = blockedPairs(big, 16)
    assert(pBigDerived < 0.7 * pBigFrozen,
      s"derived nList must shrink the join: $pBigDerived vs frozen $pBigFrozen")
    val growth = pBigDerived / pSmall
    assert(growth < 60.0, // quadratic growth would be ~100; √n-list gives ~32
      s"10x corpus grew blocked pairs ${growth}x — super-subquadratic bound violated")
  }

  test("quality repetition: planted repetitive docs are gated, clean docs kept") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a normal sentence with mostly distinct words in it today"),
      (1L, "spam spam spam spam spam spam spam spam spam one"), // top-word 0.9
      (2L, "buy now buy now buy now buy now buy now buy now"),  // dup bigrams
      (3L, "single")                                            // 1-token edge
    ).toDF("doc_id", "text")
    val out = TextOps.qualityRepetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3), r.getInt(4))).toMap
    assert(out(0L)._3 == 1, s"clean doc dropped: ${out(0L)}")
    assert(out(1L)._1 > 0.8 && out(1L)._3 == 0, s"top-word spam kept: ${out(1L)}")
    assert(out(2L)._2 > 0.5 && out(2L)._3 == 0, s"bigram spam kept: ${out(2L)}")
    assert(out(3L)._2 == 0.0, "single-token doc must have dup_bigram_frac 0")
  }

  test("pii scrub: planted emails/phones redacted, counts exact, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (0L, "write to alice@corp.example.com or Bob.Smith+x@mail.org please"),
      (1L, "call 555-0142 or 555-9999 after five"),
      (2L, "no pii here at all"),
      (3L, "mixed a@b.co and 555-1234 together")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L)._2 == 2 && out(0L)._1 == "write to <EMAIL> or <EMAIL> please")
    assert(out(1L)._3 == 2 && out(1L)._1 == "call <PHONE> or <PHONE> after five")
    assert(out(2L) == (("no pii here at all", 0L, 0L)))
    assert(out(3L)._1 == "mixed <EMAIL> and <PHONE> together")
  }

  test("url dedup: case/www/utm/fragment/trailing-slash variants collapse to one canon") {
    import spark.implicits._
    val pages = Seq(
      (1L, "https://example.org/a/b"),
      (2L, "HTTPS://www.Example.org/a/b/"),
      (3L, "https://example.org/a/b?utm_source=x&utm_medium=y"),
      (4L, "https://example.org/a/b#frag"),
      (5L, "https://example.org/a/OTHER")
    ).toDF("doc_id", "url")
    val out = TextOps.urlDedup(pages).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 2, s"expected 2 canon groups, got $out")
    assert(out("https://example.org/a/b") == ((4L, 1L)))
    assert(out("https://example.org/a/other") == ((1L, 5L)))
  }

  test("cell compact: round-trip expansion reproduces the exact cover, strictly smaller") {
    import graft.core.CellMath
    val cover = graft.queries.Queries.tileCoverRect(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val compact = graft.queries.Queries.cellCompact(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compact.size < cover.size, "compaction must shrink the cover")
    assert(compact.exists { case (_, c) => CellMath.zOf(c) < 8 }, "no cell ever compacted")
    def leaves(cell: Long): Set[Long] = {
      if (CellMath.zOf(cell) == 8) Set(cell)
      else CellMath.childrenCells(cell).toSet.flatMap(leaves)
    }
    val expanded = compact.flatMap { case (f, c) => leaves(c).map(f -> _) }
    assert(expanded == cover, "compact→expand must be the identity on the cover set")
  }

  test("mm decode is REAL: ImageIO round-trip recovers the synthesis ground truth") {
    import graft.ops.Multimodal
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 20)
    val out = Multimodal.decodeMeta(spark, docs).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == Multimodal.imgW(id) && r.getLong(2) == Multimodal.imgH(id)
        && r.getLong(3) == 3L)
    }
    // pixel-exact: the PAYLOAD decodes back to the exact mix64 pixels (PNG
    // lossless) — a header-only "decoder" cannot pass this
    val p = Multimodal.syntheticMedia(spark, docs).collect().find(_.doc_id == 5L).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p.payload))
    for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      assert((img.getRGB(x, y) & 0xffffff) == Multimodal.pixel(5L, 0L, x, y))
    // frames: container parse + per-frame decode dimensions
    val fr = Multimodal.frameSample(spark, docs).collect()
      .filter(_.getLong(0) == 7L).sortBy(_.getLong(1))
    assert(fr.length == Multimodal.nFrames(7L))
    fr.foreach { r =>
      val i = r.getLong(1)
      assert(r.getLong(3) == Multimodal.imgW(7L, i) && r.getLong(4) == Multimodal.imgH(7L, i))
    }
  }

  test("dup_clusters: chain, clique and singleton-pair components collapse to min labels") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: exercises iteration past one contraction
    // round), clique {10,11,12}, pair {20,21}; labels = component minima
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)
    ).toDF("a", "b")
    val got = TextOps.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dup_clusters: adversarial long path converges (32 nodes, bounded rounds)") {
    import spark.implicits._
    val pairs = (0L until 31L).map(i => (i, i + 1)).toDF("a", "b")
    // ceiling 0 forces the distributed iterative path (the driver
    // union-find finish would hide a divergent loop)
    val got = TextOps.dupClusters(pairs, driverEdgeCeiling = 0L).collect()
    assert(got.length == 32 && got.forall(_.getLong(1) == 0L))
  }

  test("dup_clusters: over-ceiling iterative path is row-identical to the driver finish") {
    import spark.implicits._
    // mixed shapes incl. a supernode chain the contraction does NOT fully
    // collapse: two stars bridged at their tips
    val pairs = (Seq((1L, 2L), (1L, 3L), (10L, 11L), (10L, 12L), (3L, 12L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)) ++
      (100L until 130L).map(i => (i, i + 1))).toDF("a", "b")
    val viaDriver = TextOps.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIterate = TextOps.dupClusters(pairs, driverEdgeCeiling = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDriver == viaIterate && viaDriver.nonEmpty)
  }

  test("mix64 column matches the JVM kernel; stratified sample is deterministic top-k per lang") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, -7L, Long.MaxValue, Long.MinValue)
    val got = ids.toDF("v").select(graft.functions.F.mix64(col("v"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == ids.map(Fingerprint.mix64))

    val docs = (0L until 200L).map(i => (i, s"lang${i % 3}")).toDF("doc_id", "lang")
    val k = TextOps.PerStratum // 25 of each stratum's 66 or 67 docs
    val s1 = TextOps.stratifiedSample(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(s1.size == 3 * k && s1.groupBy(_._1).forall(_._2.size == k))
    // expected = brute-force smallest mix64 ranks per stratum
    val expect = (0L until 200L).groupBy(i => s"lang${i % 3}").flatMap { case (l, is) =>
      is.sortBy(i => (Fingerprint.mix64(i), i)).take(k).zipWithIndex
        .map { case (i, r) => (l, i, r + 1L) }
    }.toSet
    assert(s1 == expect)
  }

  test("lm perplexity flags out-of-distribution docs; decontaminate flags shingle copies") {
    import spark.implicits._
    val common = "the data spark join table the data spark join table"
    val docs = (0L until 40L).map(i => (i, common)) :+
      (99L, "zzq wqx qqz xwv vqq zzq wqx qqz xwv vqq") // rare-token doc
    val df = docs.toDF("doc_id", "text")
    val ppl = TextOps.lmPerplexity(df).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // the rare-token doc's mean NLL must exceed every common doc's
    assert(ppl(99L) > ppl(0L))

    // doc 100 shares a 5-gram run with eval doc 44 (44 % 41 == 3); doc 7 is clean
    val docs2 = Seq(
      (44L, "alpha beta gamma delta epsilon zeta"), // eval slice
      (100L, "x y alpha beta gamma delta epsilon q"), // contaminated train doc
      (7L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val cont = TextOps.decontaminate(docs2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cont.keySet == Set(100L) && cont(100L) == 1L)
  }

  test("shingle_hashes kernel == xxhash64 over the HOF shingle formula") {
    import spark.implicits._
    val docs = graft.synth.Synth.docPages(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, "a b c"), (9002L, ""), (9003L, "x  y z w q"))
        .toDF("doc_id", "text")) // short / empty / double-space edge rows
    val n = 5
    val hof = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("shs", when(size(col("toks")) >= n,
          array_distinct(transform(
            sequence(lit(1), size(col("toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(n))))))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val ker = docs.select(col("doc_id"),
      explode(graft.functions.F.shingleHashes(col("text"), n)).as("h"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = rows(hof)
    assert(a.nonEmpty && a == rows(ker))
  }

  test("bm25 ranks term-dense short docs first; tfidf keywords pick the rare term") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark spark spark join"),             // dense in q0's terms
      (1L, "spark join table scan hash window filter batch merge group"), // long, 1 hit each
      (2L, "table scan hash"),                    // q1-only
      (3L, "order order order order"),            // q3 partial
      (4L, "zebra spark")                         // rare term zebra
    ).toDF("doc_id", "text")
    val bm = TextOps.bm25TopK(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(4))).toSet
    // q0 = {spark, join}: doc 0 repeats both terms in a 4-token doc — must rank 1st
    assert(bm.contains((0, 0L, 1)))
    // q1 = {hash, table, scan}: doc 2 is a 3-token doc of exactly those — rank 1st
    assert(bm.contains((1, 2L, 1)))
    val kw = TextOps.keywordsTfIdf(docs).filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // doc 4's top keyword is its corpus-unique term, not the common 'spark'
    assert(kw(4L) == "zebra")
    // doc 3's only (repeated) term is corpus-unique to it
    assert(kw(3L) == "order")
  }

  test("line_dedup keeps only the corpus-wide first occurrence of each line") {
    import spark.implicits._
    val pages = Seq(
      (0L, "all rights reserved\nunique zero line\nshared middle"),
      (1L, "all rights reserved\nunique one line\nshared middle"),
      (2L, "unique two line\nall rights reserved")
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(pages).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 0 owns the first occurrence of every one of its lines
    assert(out(0L) == (("all rights reserved\nunique zero line\nshared middle", 3L, 0L)))
    // doc 1 loses the boilerplate head and the shared middle, keeps its own
    assert(out(1L) == (("unique one line", 3L, 2L)))
    // order within the doc is preserved after removal
    assert(out(2L) == (("unique two line", 2L, 1L)))
  }

  test("line_dedup keeps an all-boilerplate doc as an empty-text row") {
    import spark.implicits._
    val pages = Seq((0L, "dup line"), (1L, "dup line")).toDF("doc_id", "text")
    val out = TextOps.lineDedup(pages).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "dup line" && out(1L) == "")
  }

  test("withLines plants cross-doc boilerplate that line_dedup strips") {
    import spark.implicits._
    val docs = Seq.tabulate(8)(i =>
      (i.toLong, s"alpha$i beta$i gamma$i", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cleaned = TextOps.lineDedup(TextOps.withLines(docs))
    // docs 4..7 repeat the head boilerplate of docs 0..3 (doc_id % 4 key):
    // every doc past the first 4 loses at least its head line
    val removed = cleaned.filter(col("doc_id") >= 4 && col("n_removed") >= 1).count()
    assert(removed == 4)
    // no doc loses its unique body line
    assert(cleaned.filter(not(col("clean_text").contains("alpha"))).count() == 0)
  }

  test("dedup_substr removes a copied >=k span from the later doc only") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"w$i").mkString(" ") // 12 tokens
    val pages = Seq(
      (0L, s"$span tail0 tail1"),                   // first occurrence: kept whole
      (1L, s"lead0 lead1 $span after0"),            // copy: the 12 span tokens go
      (2L, "completely unrelated short text here")  // < k tokens: untouched
    ).toDF("doc_id", "text")
    val out = TextOps.dedupSubstr(pages).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((s"$span tail0 tail1", 14L, 0L)))
    // doc 1: k=10 shingles at starts 2..4 are dups (the copied span yields
    // 3 duplicated 10-grams covering token positions 2..13) — the copied
    // tokens vanish, the doc's own lead/after tokens survive
    assert(out(1L) == (("lead0 lead1 after0", 15L, 12L)))
    assert(out(2L) == (("completely unrelated short text here", 5L, 0L)))
  }

  test("dedup_substr salted hot path is row-identical to the cold path") {
    import spark.implicits._
    val viral = (1 to 10).map(i => s"v$i").mkString(" ")
    val pages = (0L until 40L).map(i => (i, s"$viral own$i unique$i")).toDF("doc_id", "text")
    val cold = TextOps.dedupSubstr(pages)
    val hot = TextOps.dedupSubstr(pages, saltS = 4, hotK = 4, hotThreshold = 10L)
    assert(hot.exceptAll(cold).isEmpty && cold.exceptAll(hot).isEmpty)
    // only doc 0 keeps the viral 10-gram
    assert(cold.filter(col("n_removed_tok") === 0).count() == 1)
  }

  test("line_dedup salted hot path is row-identical to the cold path") {
    import spark.implicits._
    // one boilerplate line in every doc (the C4 hot key), plus unique lines
    val pages = (0L until 60L).map(i =>
      (i, s"all rights reserved\nunique line $i")).toDF("doc_id", "text")
    val cold = TextOps.lineDedup(pages) // threshold 100000: hot set empty
    val hot = TextOps.lineDedup(pages, saltS = 4, hotK = 4, hotThreshold = 10L)
    assert(hot.exceptAll(cold).isEmpty && cold.exceptAll(hot).isEmpty)
    // the hot path really did salt: the boilerplate hash crosses the threshold
    val lines = pages.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", sha2(col("line"), 256))
    assert(graft.pipeline.Skew.hotKeysAny(lines, "h", 4, 10L).nonEmpty)
  }

  test("domain_mix: temperature weights flatten skew; rare hosts repeat capped") {
    import spark.implicits._
    val pages = Seq.tabulate(100)(i => (i.toLong, 10L,
      if (i < 90) "https://big.example.org/a" else "https://small.example.org/b"))
      .toDF("doc_id", "n_chars", "url")
    val out = TextOps.domainMix(pages).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4), r.getLong(5)))).toMap
    val (nBig, wBig, rBig) = out("big.example.org")
    val (nSmall, wSmall, rSmall) = out("small.example.org")
    assert(nBig == 90L && nSmall == 10L)
    assert(rBig == 1L && rSmall == 4L) // ceil(90/10) = 9, capped at 4
    // quantized integer shares normalize to 1 (up to the 1e-6 rounding)
    assert(math.abs(wBig + wSmall - 1.0) < 2e-6)
    // α = 1/2 flattens the raw 0.9 share toward the rare host
    assert(wBig > wSmall && wBig < 0.8)
  }

  test("dsir_select enriches target-distribution docs under Gumbel resampling") {
    import spark.implicits._
    // the eval slice (id % 41 == 3: ids 3, 44, 85, 126, 167) and half the
    // corpus (even ids) draw from vocabulary A, 103 docs in all; the rest
    // from disjoint vocabulary B — importance weights must rank A-docs
    // above B-docs decisively (the planted gap of ~20 tokens x ln-ratio
    // dwarfs the Gumbel noise), so the top DsirK = 100 are A-docs
    def isA(i: Long): Boolean = i % TextOps.EvalMod == TextOps.EvalRes || i % 2 == 0
    val docs = (0L until 200L).map { i =>
      val vocab = if (isA(i)) Seq("alpha", "beta", "gamma", "delta", "epsln", "zeta", "eta", "theta")
                  else Seq("omega", "psi", "chi", "phi", "upsil", "tau", "sigma", "rho")
      (i, (0 until 20).map(j => vocab(((i + j) % 8).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val sel = TextOps.dsirSelect(docs).collect()
    assert(sel.length == TextOps.DsirK)
    val (aRows, bRows) = sel.partition(r => isA(r.getLong(0)))
    assert(aRows.length >= 90, s"only ${aRows.length}/100 selected docs are target-like")
    // the weight populations separate completely
    if (bRows.nonEmpty)
      assert(aRows.map(_.getLong(1)).min > bRows.map(_.getLong(1)).max)
  }

  test("sample_weighted and dsir_select hold for doc_ids near 2^62 under ANSI") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "the overflow check needs ANSI arithmetic")
    val base = 1L << 62
    val docs = (0L until 60L).map { i =>
      val words = (0 until (5 + (i % 7).toInt)).map(j => s"w${(i + j) % 11}")
      (base + i * 104729L, if (i % 2 == 0) "en" else "de", words.mkString(" "))
    }.toDF("doc_id", "lang", "text").withColumn("n_chars", length(col("text")))
    val want = docs.select("lang", "doc_id", "n_chars").as[(String, Long, Int)].collect()
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.map { case (l, d, nc) =>
          val u = ((Fingerprint.mix64(d) >>> 1) % 1000000007L + 1).toDouble / 1000000007.0
          (l, d, nc.toLong, -math.log(u) / nc)
        }.sortBy(r => (r._4, r._2)).take(TextOps.PerStratum).zipWithIndex
          .map { case ((l, d, nc, _), i) => (l, d, nc, (i + 1).toLong) }
      }.toSet
    val got = TextOps.weightedSample(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // 60 docs < DsirK: every doc is ranked (the eval slice holds i = 30)
    val sel = TextOps.dsirSelect(docs).collect()
    assert(sel.length == 60 && sel.forall(_.getLong(0) >= base))
  }

  test("proto_prune keeps the least prototypical members (planted outlier ranks first)") {
    import spark.implicits._
    // two populated directions (dims 0 and 1) + one orthogonal outlier
    // (dim 2): whichever trained cluster the outlier joins, its cosine to
    // that centroid is near 0 while on-direction members sit near 1, so
    // hardest-first ranking must put it at rn = 1
    def vec(dir: Int, mag: Float): Seq[Float] =
      (0 until 64).map(d => if (d == dir) mag else 0.0f)
    val rows = (0L until 20L).map(i => (i, vec(0, 0.5f + 0.01f * i))) ++
      (20L until 39L).map(i => (i, vec(1, 0.5f + 0.01f * (i - 20)))) :+
      (39L, vec(2, 0.7f))
    val emb = rows.toDF("vec_id", "embedding")
    val kept = Ann.protoPrune(emb, nList0 = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(kept.length > 0)
    val outlier = kept.find(_._1 == 39L)
    assert(outlier.nonEmpty && outlier.get._3 == 1L,
      s"orthogonal outlier must rank 1 in its cluster, got $outlier")
    // each trained cluster (kmeansAssign's, same seeds and rounds) keeps
    // min(size, ProtoKeep) members with dense ranks
    val sizes = Ann.kmeansAssign(emb, nList0 = 2).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(kept.groupBy(_._2).map { case (c, g) => c -> g.map(_._3).sorted.toSeq } ==
      sizes.map { case (c, n) => c -> (1L to math.min(n, Ann.ProtoKeep.toLong)).toSeq })
  }
}
