package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** Training-data pipeline operators over the documents table: exact and
  * near dedup (MinHash-LSH, SimHash, n-gram Jaccard), language ID, quality
  * scoring, token counting, document fingerprinting. Standard public
  * constructions (Broder '97 MinHash; Charikar '02 SimHash); all
  * deterministic so results are oracle/golden-checkable.
  */
object TextOps {

  // The operators' frozen values (SURVEY.md §2, H6): the oracle checks
  // them, so each is one named constant that the Spark operator and its
  // SQL twin both read — never a parameter.

  /** The held-out eval slice, doc_id % EvalMod == EvalRes: what
    * [[decontaminate]] scrubs against, [[dsirSelect]]'s target and
    * [[curate]]'s `is_eval`. */
  final val EvalMod = 41L
  final val EvalRes = 3L
  /** Token n-gram length of the eval-overlap shingles. */
  final val ShingleN = 5
  /** Bucket cap of the near-dup band and fingerprint joins: a bucket of k
    * docs yields k²/2 pairs, so a larger one is dropped. */
  final val MaxBucket = 1000
  /** Jaccard floor of the near-dup pairs (MinHash estimate and exact). */
  final val JaccardMin = 0.5

  /** Exact dedup: keep the lowest doc_id per identical text. The shuffle /
    * window key is sha2(text) — 32 bytes — NOT the document itself (a
    * full-document sort key means shuffling the whole corpus twice at
    * 100 TB); collision probability at 2^-128 scale is below hardware error
    * rates, so no verify pass is needed on the hash groups. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id").asc)))
      .withColumn("group_n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("group_n"))

  /** Pre-collapse of exact duplicates (32-byte hash key): the canonical
    * first stage of every near-dup pipeline — a Common-Crawl-scale exact-dup
    * cluster of 10^6 docs must become ONE representative before any LSH
    * banding, or a single band bucket yields 10^12 candidate pairs. */
  def exactReps(docs: DataFrame): DataFrame =
    docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id").asc)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** Deterministic "mutated copy" used to exercise near-dup detection at any
    * scale: every 10th doc gets a clone (id + 10_000_000) with the last
    * token dropped. Near-dup pairs exist by construction. */
  def withMutatedCopies(docs: DataFrame): DataFrame = {
    val clones = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text", expr("array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 1)), ' ')"))
    docs.unionByName(clones)
  }

  /** MinHash + LSH near-dup pairs: shingle(k=3) → 64-perm signature → 8
    * bands of 8 rows → band-key equi-join (the scale path: candidates only
    * ever meet inside a band bucket, a shuffle on band_key), then verify by
    * estimated Jaccard from the full signatures. */
  def dedupMinHash(docs: DataFrame): DataFrame = {
    // exact dups collapse to one rep BEFORE banding (see [[exactReps]]);
    // signature computed once per doc, bands derived from it; persisted so
    // the banding projection and the two verify joins don't re-hash the
    // corpus (at cluster scale this cut is a written sketch table, not a
    // RAM cache)
    val sigs = exactReps(docs).select(col("doc_id"),
      F.minhashSig(col("text"), lit(3), lit(64)).as("sig"))
      .persist()
    // SKINNY banding: only (band, doc_id) crosses the band exchange — the
    // band keys derive from sig map-side, so the 64-element signatures
    // never ride the ×8 band explode (measured on the 2M-doc dedup-scale
    // corpus: the fat form shipped the sig copy per band through the
    // window exchange AND the cache write; the skinny form is ~4× less
    // wire). Signatures re-attach AFTER the candidate pairs are distinct.
    // bucket cap: a band bucket of k docs yields k²/2 pairs — after exact
    // pre-collapse a still-oversized bucket means a degenerate band (e.g.
    // boilerplate shingles); those pairs are dropped, bounded loss traded
    // for a bounded join (the other 7 bands still cover the pair).
    // no round-robin repartition before the window: hash(band) distributes
    // (same reasoning as [[dedupWinnow]])
    val banded = sigs
      .select(col("doc_id"), explode(F.lshBandsFromSig(col("sig"), lit(8))).as("band"))
      .transform(capBuckets("band"))
      .persist()
    // candidate pairs dedupe across bands while still id-only; the verify
    // joins see each pair once. Per-doc pair fan-out is bounded by the
    // bucket cap (≤ 8 bands × MaxBucket), so the doc-keyed joins have no
    // unbounded hot key; sig side is per-doc-sized — never broadcast.
    val cand = banded.select(col("band"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("doc_id").as("b")), "band")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga"))
        .hint("shuffle_hash"), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb"))
        .hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        aggregate(zip_with(col("siga"), col("sigb"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, v) => acc + v).as("n_eq"))
      .withColumn("est_jaccard", col("n_eq") / lit(64.0))
      .filter(col("est_jaccard") >= JaccardMin)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  /** Drop the rows of every `key` bucket holding more than [[MaxBucket]]. */
  private def capBuckets(key: String)(df: DataFrame): DataFrame =
    df.withColumn("bsz", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("bsz") <= MaxBucket)
      .drop("bsz")

  final val MaxHamming = 3

  /** SimHash near-dup pairs: 64-bit fingerprint, blocked on 4×16-bit bands
    * (any pair at Hamming ≤ [[MaxHamming]] shares at least one exact band),
    * verified by exact Hamming distance. */
  def dedupSimHash(docs: DataFrame): DataFrame = {
    // simhash runs at the exactReps exchange's parallelism already; the
    // band window's own exchange distributes downstream (see [[dedupWinnow]])
    val hashed = exactReps(docs)
      .select(col("doc_id"), F.simhash64(col("text")).as("sh"))
      .persist()
    val banded = hashed.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)) + lit(i.toLong << 16)): _*))
        .as("band"))
      .transform(capBuckets("band"))
    val a = banded.select(col("band"), col("doc_id").as("a"), col("sh").as("sha"))
    val b = banded.select(col("band"), col("doc_id").as("b"), col("sh").as("shb"))
    a.join(b, "band").filter(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
  }

  /** SQL mirror of [[withMutatedCopies]] — shared by the near-dup twins
    * ([[repsCtes]]), the ngram-Jaccard family and [[decontaminateSql]]. */
  private def augCte: String =
    s"""aug AS (
       |  SELECT doc_id, text, lang, n_chars FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000000,
       |         array_to_string(list_slice(string_split(text, ' '), 1,
       |           greatest(len(string_split(text, ' ')) - 1, 1)), ' '),
       |         lang, n_chars
       |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** The near-dup SQL twins' input: [[withMutatedCopies]] (`aug`) and its
    * [[exactReps]] (`reps`). */
  private def repsCtes: String =
    s"""$augCte,
       |reps AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text,
       |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM aug) WHERE rn = 1)""".stripMargin

  /** Full DuckDB mirror of [[dedupMinHash]] ∘ [[withMutatedCopies]] — the
    * whole MinHash pipeline in SQL: FNV-1a shingle hashes (nested
    * list_reduce), 64 signature rows via mix64(h ⊕ C·(r+1)) staged through
    * HUGEINT-limb CTEs with SIGNED min (Java Long order), band keys via the
    * 8-step chained mix64 fold, bucket cap, band equi-join, signature-
    * agreement verify. Verified bit-exact against the JVM kernel
    * (prototype, 2026-08-17). */
  def dedupMinHashSql: String = {
    import graft.queries.SqlHash._
    val C = BigInt("2545f4914f6cdd1d", 16)
    val A = BigInt("9e3779b97f4a7c15", 16)
    val shingleFnv = fnv1a64("array_to_string(list_slice(tk, i, i + 2), ' ')")
    val wholeFnv = fnv1a64("array_to_string(tk, ' ')")
    // band chain: seed (b·A mod 2^64), then 8 × [xor signed-sig element,
    // full mix64] staged as CTE columns
    val bandCtes = new StringBuilder
    var prev = "bseed"
    (0 until 8).foreach { s =>
      val sigU = s"(CASE WHEN sg[b*8+$s+1] < 0 THEN sg[b*8+$s+1] + $M64 ELSE sg[b*8+$s+1] END)"
      bandCtes ++= s"bx$s AS (SELECT doc_id, b, sg, ${xor64("z", sigU)} AS z FROM $prev),\n"
      bandCtes ++= mix64Ctes(s"bx$s", "doc_id, b, sg", s"bm$s") + ",\n"
      prev = s"bm$s"
    }
    s"""WITH $repsCtes,
       |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM reps),
       |sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(tk) < 3
       |    THEN [$wholeFnv]
       |    ELSE list_transform(generate_series(1, len(tk) - 2), i -> $shingleFnv)
       |    END) AS h
       |  FROM toks),
       |rr AS (SELECT unnest(generate_series(0, 63)) AS r),
       |z0 AS (SELECT sh.doc_id, rr.r,
       |              ${xor64("sh.h", mul64("CAST(rr.r + 1 AS HUGEINT)", C))} AS z
       |       FROM sh, rr),
       |${mix64Ctes("z0", "doc_id, r", "zm")},
       |sigr AS (SELECT doc_id, r, min(${toSigned("z")}) AS v
       |         FROM zm GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(v ORDER BY r) AS sg FROM sigr GROUP BY 1),
       |bseed AS (SELECT doc_id, b.b, sg, ${mul64("CAST(b.b AS HUGEINT)", A)} AS z
       |          FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b) b),
       |${bandCtes.toString.stripSuffix(",\n")},
       |bands AS (SELECT doc_id, sg,
       |                 ${toSigned("b * 72057594037927936 + (z // 256)")} AS band
       |          FROM $prev),
       |capped AS (SELECT doc_id, sg, band FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band) AS bsz FROM bands)
       |  WHERE bsz <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |         list_sum(list_transform(generate_series(1, 64),
       |           i -> CASE WHEN x.sg[i] = y.sg[i] THEN 1 ELSE 0 END)) AS n_eq
       |  FROM capped x JOIN capped y ON x.band = y.band AND x.doc_id < y.doc_id)
       |SELECT a, b, n_eq / 64.0 AS est_jaccard
       |FROM pairs WHERE n_eq / 64.0 >= $JaccardMin""".stripMargin
  }

  /** Token-set Jaccard near-dup pairs within (lang, length-bucket) blocks —
    * the exact-verify stage of the dedup family.
    *
    * Candidate generation is an AllPairs/PPJoin-style PREFIX-FILTERED
    * equi-join, not a block self-join: order each doc's tokens by global
    * rarity (df asc, token asc) and emit only the first
    * `|toks| - ceil(t·|toks|) + 1` tokens as join keys. Two docs with
    * J >= t MUST share a prefix token under a consistent global order
    * (overlap >= ceil(t·|x|) for both, pigeonhole on the suffix), so the
    * result is EXACTLY the block-join's — but candidates for a pair only
    * materialize when they co-occur on a rare token, which keeps the join
    * sub-quadratic where a (lang, length) block alone holds ~10^9 docs at
    * the 100 TB design point. [Bayardo et al., WWW'07 "Scaling Up All
    * Pairs Similarity Search" — public construction.] */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    // Token arrays carry BOTH forms: strings (df counting + prefix
    // selection, which orders by the string token) and sorted 64-bit
    // hashes (candidate-join keys + the verify merge). Hashing shrinks the
    // shuffled payload (8 B/token, no offsets) and turns verify into a
    // primitive merge-intersect — measured 4.6× faster than string
    // array_intersect at sf0.1 (551k output pairs). A cross-doc hash
    // collision can only ADD a candidate (verify re-checks) or, in theory,
    // perturb an intersection count (P ≈ vocab²/2⁶⁵ — negligible; the
    // DuckDB oracle would catch it at test scale).
    // repartition BEFORE the projection: projections pipeline into the
    // stage that writes the exchange, so repartitioning after tokenize
    // would run the tokenize+hash pass at the SOURCE's split count (a
    // one-split parquet = one task) and shuffle the fatter tokenized rows
    val t = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 100).cast("long").as("bucket"),
        array_distinct(F.tokenize(col("text"))).as("toks"))
      .withColumn("h", sort_array(transform(col("toks"), x => xxhash64(x))))
      .withColumn("nt", size(col("toks")))
      .persist()
    val df_ = t.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // global df ships as the broadcast sorted term array; the per-doc
    // rarest-token prefix is then one in-row pass (no df join, no window)
    val bc = docs.sparkSession.sparkContext.broadcast(graft.index.TermStats.build(df_))
    val pref = t
      .select(col("lang"), col("bucket"), col("doc_id"),
        explode(transform(
          graft.index.TermStats.prefixTokens(col("toks"), JaccardMin, bc),
          x => xxhash64(x))).as("tok"))
    val cand = pref.select(col("lang"), col("bucket"), col("tok"), col("doc_id").as("a"))
      .join(pref.select(col("lang"), col("bucket"), col("tok"), col("doc_id").as("b")),
        Seq("lang", "bucket", "tok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(t.select(col("doc_id").as("a"), col("h").as("ha"), col("nt").as("na")), "a")
      .join(t.select(col("doc_id").as("b"), col("h").as("hb"), col("nt").as("nb")), "b")
      .withColumn("inter", F.sortedInterCount(col("ha"), col("hb")))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni").cast("double"))
      .filter(col("jaccard") >= JaccardMin)
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"))
  }

  /** Shared aug/tokens/pairs CTE prefix of the ngram-Jaccard family —
    * ONE definition so [[ngramJaccardSql]] and [[dupClustersSql]] cannot
    * drift apart. */
  private def ngramPairCtes: String =
    s"""$augCte,
       |t AS (SELECT doc_id, lang, n_chars // 100 AS bucket,
       |             list_distinct(string_split(text, ' ')) AS toks FROM aug),
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |         len(list_intersect(a.toks, b.toks)) AS inter,
       |         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** Oracle mirror of [[ngramJaccard]] ∘ [[withMutatedCopies]]. */
  def ngramJaccardSql: String =
    s"""WITH $ngramPairCtes
       |SELECT a, b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
       |FROM pairs WHERE CAST(inter AS DOUBLE) / uni >= $JaccardMin""".stripMargin

  final val WinnowK = 8
  final val WinnowW = 16
  final val WinnowMinShared = 2

  /** Winnowing (MOSS) near-dup pairs: exact pre-collapse → per-doc
    * winnowing fingerprints (char k-grams, window w) → inverted fingerprint
    * index (bucket-capped) → pairs sharing >= WinnowMinShared fingerprints.
    * Catches copied PASSAGES (any shared run >= w+k-1 chars shares a
    * fingerprint) that whole-document sketches dilute — the boilerplate /
    * quotation detector of the dedup family. */
  def dedupWinnow(docs: DataFrame): DataFrame = {
    // no repartition between the explode and the bucket-size window: the
    // window's own hash(fp) exchange distributes the stream, and the
    // fingerprinting itself already runs at the exactReps exchange's
    // parallelism — a round-robin shuffle here was a pure extra pass over
    // the largest intermediate (and the fp-keyed cache partitioning lets
    // the self-join below reuse the exchange)
    val fps = exactReps(docs)
      .select(col("doc_id"), explode(F.winnowFps(col("text"), WinnowK, WinnowW)).as("fp"))
      .transform(capBuckets("fp"))
      .persist()
    fps.select(col("fp"), col("doc_id").as("a"))
      .join(fps.select(col("fp"), col("doc_id").as("b")), "fp")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
  }

  /** Collapse near-dup PAIRS into dedup CLUSTERS — connected components
    * with the component-minimum doc_id as the cluster label. Pair output
    * alone under-deletes: A~B and B~C pairs must retire B AND C, which
    * needs the transitive closure, the step every corpus-scale dedup runs
    * after candidate generation.
    *
    * Scale shape: (1) one star-contraction round — every node maps to
    * min(self, min neighbor), collapsing near-cliques (the typical dup
    * cluster) to single supernodes in ONE pass over the edge set; (2)
    * iterative min-label propagation on the CONTRACTED graph, which is
    * orders of magnitude smaller (sf0.1: 1.1M directed edges → 1,950), so
    * the driver loop's per-round joins touch only supernodes. The big edge
    * set is read exactly twice (contraction map + edge rewrite) and never
    * again. Rounds = contracted diameter; the O(log n) two-sided
    * alternating-star scheme (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) is the documented upgrade if
    * adversarial long chains ever dominate. Convergence detection: the
    * label sum is strictly decreasing until fixpoint (labels only ever
    * shrink), one cheap aggregate per round, summed in decimal(38) so the
    * test can't overflow at any corpus size. */
  def dupClusters(pairs: DataFrame, driverEdgeCeiling: Long = 1L << 20): DataFrame = {
    // Persist the SKINNY undirected pair set (half the rows of the
    // symmetrized form); both contraction passes re-derive the directed
    // view with a map-side explode over the cache — a union of (a,b) and
    // swapped (b,a) branches would run the entire upstream pair pipeline
    // twice, and caching the symmetrized frame doubles the cache write for
    // rows that are pure projections of what is already cached.
    val p = pairs.select(col("a"), col("b")).persist()
    def sym = p.select(explode(array(
        struct(col("a").as("a"), col("b").as("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // star contraction: node -> min(node, min neighbor), computed as a
    // window over the directed view's single a-keyed exchange — the edge
    // row keeps its la in-row (no edge ⋈ m1 re-join on a) and the node map
    // falls out of the SAME exchange as a distinct whose grouping keys are
    // a superset of the window's partitioning (no second exchange).
    val withLa = sym.withColumn("la",
      least(col("a"), min(col("b")).over(Window.partitionBy(col("a")))))
      .persist()
    val m1 = withLa.select(col("a").as("node"), col("la").as("lbl1")).distinct()
      .persist()
    // contracted edges: attach the b-endpoint's label (node-sized map side,
    // never broadcast — node count is corpus-sized at the design point)
    val e1 = withLa
      .join(m1.select(col("node").as("b"), col("lbl1").as("lb")), "b")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("a"), col("lb").as("b"))
      .distinct()
      .persist()
    // The contracted graph is orders of magnitude smaller than the edge
    // set (near-cliques → supernodes; sf0.1: 1.1M → 1,950). Below the
    // ceiling, finish with driver union-find + a broadcast root map — the
    // distributed iteration's per-round job latency (2 actions × rounds)
    // costs more than the entire remaining problem. Above it, the loop
    // below is the honest distributed path (measured ceiling rationale:
    // 2×8B×1M = 16 MB collected, well inside any driver).
    val e1Count = e1.count()
    if (e1Count <= driverEdgeCeiling) {
      val edges = e1.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x0: Long): Long = {
        var r = x0
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var x = x0
        while (parent.getOrElse(x, x) != x) { val nx = parent(x); parent(x) = r; x = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val roots: Seq[(Long, Long)] = edges.iterator
        .flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
        .map((n: Long) => (n, find(n)))
      val spark = pairs.sparkSession
      import spark.implicits._
      val rootDf = roots.toDF("lbl1", "lbl")
      val out = m1.join(broadcast(rootDf), Seq("lbl1"), "left")
        .select(col("node").as("doc_id"),
          coalesce(col("lbl"), col("lbl1")).as("cluster_id"))
      p.unpersist(); withLa.unpersist(); e1.unpersist()
      return out
    }
    // min-label propagation on the contracted graph until fixpoint.
    // localCheckpoint (not persist) each round: an iterative DataFrame's
    // lineage DOUBLES per round (labels referenced twice), so by round ~16
    // the mere plan string OOMs the driver — truncation is mandatory for
    // any loop whose round count is data-dependent (on a cluster, the
    // reliable-checkpoint variant writes to the checkpoint dir instead)
    var labels = e1.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = lblSum(labels)
    var done = labels.isEmpty
    var rounds = 0
    while (!done && rounds < 64) {
      val prop = e1.join(labels.withColumnRenamed("node", "a"), "a")
        .groupBy(col("b").as("node")).agg(min(col("lbl")).as("plbl"))
      val next = labels.join(prop, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val cur = lblSum(next)
      labels.unpersist()
      labels = next
      done = cur.compareTo(prev) == 0
      prev = cur
      rounds += 1
    }
    p.unpersist()
    withLa.unpersist()
    e1.unpersist()
    // map every original node through its supernode's final label
    m1.join(labels.select(col("node").as("lbl1"), col("lbl")), Seq("lbl1"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("lbl"), col("lbl1")).as("cluster_id"))
  }

  /** [[dupClusters]] over the ngram-Jaccard pair edges — full mirror:
    * pair CTEs from [[ngramJaccardSql]], one star-contraction round, then
    * a recursive min-label closure on the contracted graph. The `r.lbl <
    * e.b` guard prunes the closure: the component minimum is smaller than
    * every member, so min labels still reach everyone while non-minimal
    * labels mostly stop propagating. MATERIALIZED hints are load-bearing:
    * without them DuckDB re-inlines the quadratic pair join once per
    * reference (measured 176 s → 12 s at sf0.1). */
  def dupClustersSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       |edges AS (SELECT a, b FROM pairs WHERE CAST(inter AS DOUBLE) / uni >= $JaccardMin),
       |sym AS MATERIALIZED (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
       |m1 AS MATERIALIZED (SELECT a AS node, least(a, min(b)) AS lbl1 FROM sym GROUP BY a),
       |e1 AS MATERIALIZED (SELECT DISTINCT ma.lbl1 AS a, mb.lbl1 AS b
       |       FROM sym JOIN m1 ma ON sym.a = ma.node JOIN m1 mb ON sym.b = mb.node
       |       WHERE ma.lbl1 <> mb.lbl1),
       |reach AS (
       |  SELECT a AS node, a AS lbl FROM e1
       |  UNION
       |  SELECT e.b AS node, r.lbl AS lbl FROM reach r JOIN e1 e ON e.a = r.node
       |  WHERE r.lbl < e.b),
       |root AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
       |SELECT m1.node AS doc_id, coalesce(root.lbl, m1.lbl1) AS cluster_id
       |FROM m1 LEFT JOIN root ON m1.lbl1 = root.node""".stripMargin

  /** Docs each stratum keeps in [[stratifiedSample]] and [[weightedSample]]. */
  final val PerStratum = 25

  /** Deterministic stratified sample: the [[PerStratum]] docs with the
    * smallest splitmix64(doc_id) rank per language — the curation
    * primitive for balancing a training mix across strata. Hash-rank
    * sampling is reproducible (no RNG state), stable under corpus growth
    * (a doc's rank never changes, so the sample only churns where ranks
    * cross the boundary) and join-free. Skew note: strata are FEW (4
    * langs), but rank<=k plans as WindowGroupLimit, whose PARTIAL mode
    * keeps at most k rows per stratum per input partition BEFORE the
    * shuffle (PlanSpec pins it) — the exchange moves O(k·splits) rows, not
    * the corpus, so 4 fat strata never concentrate the data on 4 tasks. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("rk").asc, col("doc_id").asc)
    docs.select(col("lang"), col("doc_id"), F.mix64(col("doc_id")).as("rk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PerStratum)
      .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
  }

  /** Mirror of [[stratifiedSample]]: mix64 staged over CTE columns
    * (SqlHash), rank ORDER BY the SIGNED value — Java long order, the
    * winnowing lesson — with the doc_id tiebreak. */
  def stratifiedSampleSql: String = {
    import graft.queries.SqlHash._
    s"""WITH z AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS z FROM documents),
       |${mix64Ctes("z", "doc_id, lang", "m")},
       |r AS (SELECT lang, doc_id, ${toSigned("z")} AS rk FROM m),
       |ranked AS (SELECT lang, doc_id,
       |             row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn
       |           FROM r)
       |SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= $PerStratum""".stripMargin
  }

  /** Deterministic uniform draw from doc_id: the top 63 bits of
    * mix64(doc_id) mod the prime 1e9+7, plus 1, over `denom` — in (0,1]
    * for denom 1e9+7, strictly inside (0,1) for 1e9+8. mix64 wraps modulo
    * 2^64, so the draw holds for every BIGINT id (a plain `doc_id * k`
    * overflows under ANSI). */
  private def hashU(denom: Double): Column =
    (shiftrightunsigned(F.mix64(col("doc_id")), 1) % lit(1000000007L) + lit(1L))
      .cast("double") / lit(denom)

  /** Mirror of [[hashU]] over the mix64 column `z` of a
    * [[graft.queries.SqlHash.mix64Ctes]] chain: unsigned z // 2 is the same
    * 63-bit value as the unsigned shift. */
  private def hashUSql(denom: String): String =
    s"CAST(${graft.queries.SqlHash.shr("z", 1)} % 1000000007 + 1 AS DOUBLE) / $denom"

  /** Weighted sample without replacement (Efraimidis–Spirakis '06,
    * exponential-key form): per language keep the [[PerStratum]] docs with
    * the smallest −ln(u)/w where w = n_chars and u is a deterministic
    * rational in (0,1] from doc_id ([[hashU]]) — longer docs sample
    * proportionally more often, the draw is reproducible and join-free,
    * and a doc's key never changes under corpus growth. The ranking key
    * stays an UNROUNDED double with
    * the doc_id tiebreak (repo invariant); u's integer derivation and
    * the ln/division are token-identical across engines (ln is the
    * mercator-verified function; pow is NOT cross-engine-stable, which
    * is why the exponential form replaces u^(1/w)). Same
    * WindowGroupLimit shape as [[stratifiedSample]] — the partial mode
    * keeps ≤ k rows per stratum per input partition before the shuffle. */
  def weightedSample(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("key").asc, col("doc_id").asc)
    docs.select(col("lang"), col("doc_id"), col("n_chars"), hashU(1000000007.0).as("u"))
      .withColumn("key", expr("-ln(u) / n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PerStratum)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("rn").cast("long").as("rn"))
  }

  def weightedSampleSql: String =
    s"""WITH z AS (SELECT lang, doc_id, n_chars, CAST(doc_id AS HUGEINT) AS z FROM documents),
       |${graft.queries.SqlHash.mix64Ctes("z", "lang, doc_id, n_chars", "m")},
       |u AS (SELECT lang, doc_id, n_chars, ${hashUSql("1000000007.0")} AS u FROM m),
       |k AS (SELECT lang, doc_id, n_chars, -ln(u) / n_chars AS key FROM u),
       |ranked AS (SELECT lang, doc_id, n_chars,
       |             row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rn
       |           FROM k)
       |SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= $PerStratum""".stripMargin

  final val DsirK = 100

  /** DSIR-style data selection (the importance-resampling construction of
    * Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling" — public): per-doc importance weights
    * log p_target(x) − log p_raw(x) under hashed bag-of-unigram models
    * (add-1-smoothed, 64 buckets), then deterministic Gumbel-top-k
    * resampling. The target distribution is the dim-sized slice
    * doc_id % EvalMod == EvalRes ([[decontaminate]]'s eval convention);
    * raw = the whole corpus.
    *
    * Scale shape: the hashed tf frame collapses to ≤64-row bucket models
    * via two MAP-COMBINED aggregations, broadcast back for the scoring
    * join; the per-doc weight is an exact BIGINT dot product — each
    * bucket's log-ratio is quantized to 1e-6 integers BEFORE the sum (the
    * lm_perplexity trick: order-independent across partial aggregation
    * and across engines). The Gumbel key w + (−ln(−ln u)) composes
    * [[weightedSample]]'s deterministic-u machinery and stays an
    * UNROUNDED ranking double with the doc_id tiebreak (repo invariant);
    * u ∈ (0,1) strictly (denominator p+1). Buckets are FIXED at 64 — a
    * power of two, so Spark's signed pmod and the mirror's unsigned
    * HUGEINT mod agree exactly (the low 6 bits). Top-k plans as a partial
    * WindowGroupLimit before the single ordering exchange, so ≤ k·splits
    * rows move. */
  def dsirSelect(docs: DataFrame): DataFrame = {
    val B = 64
    val bt = termFreq(docs)
      .select(col("doc_id"), pmod(F.fnv1a64(col("term")), lit(B.toLong)).as("b"), col("tf"))
      .groupBy(col("doc_id"), col("b")).agg(sum(col("tf")).as("c"))
      .persist() // raw model, target model and the scoring join all read it
    val raw = bt.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val tgt = bt.filter(col("doc_id") % EvalMod === EvalRes)
      .groupBy(col("b")).agg(sum(col("c")).as("ct"))
    val model = raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val ld = model.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + $B AS DOUBLE)) - " +
          s"ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + $B AS DOUBLE))) * 1000000.0) AS BIGINT)")
        .as("ldq"))
    val w = Window.orderBy(col("key").desc, col("doc_id").asc)
    bt.join(broadcast(ld), "b")
      .groupBy(col("doc_id")).agg(sum(col("c") * col("ldq")).as("w_q"))
      .withColumn("u", hashU(1000000008.0))
      .withColumn("key", col("w_q").cast("double") / lit(1000000.0) - expr("ln(-ln(u))"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= DsirK)
      .select(col("doc_id"), col("w_q"), col("rn").cast("long").as("rn"))
  }

  /** Mirror of [[dsirSelect]]: same tf derivation as the LM gate, FNV-1a
    * bucket hash per DISTINCT term (SqlHash list_reduce fold, joined back
    * — identical values, cheaper than per-row folds), token-identical
    * smoothed-log-ratio arithmetic quantized at 1e-6, and the unrounded
    * Gumbel ranking key with the doc_id tiebreak. */
  def dsirSelectSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tfc
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
       |  GROUP BY 1, 2),
       |terms AS MATERIALIZED (SELECT DISTINCT term FROM tf),
       |tb AS MATERIALIZED (
       |  SELECT term, CAST(${graft.queries.SqlHash.fnv1a64("term")} % 64 AS BIGINT) AS b
       |  FROM terms),
       |bt AS MATERIALIZED (
       |  SELECT tf.doc_id, tb.b, CAST(sum(tfc) AS BIGINT) AS c
       |  FROM tf JOIN tb ON tf.term = tb.term
       |  GROUP BY 1, 2),
       |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM bt GROUP BY 1),
       |tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM bt
       |        WHERE doc_id % $EvalMod = $EvalRes GROUP BY 1),
       |model AS (SELECT raw.b AS b, cr, COALESCE(ct, 0) AS ct
       |          FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
       |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM model),
       |ld AS (SELECT b,
       |         CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE)) -
       |           ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE))) * 1000000.0) AS BIGINT) AS ldq
       |       FROM model, tot),
       |wq AS (SELECT bt.doc_id, CAST(sum(c * ldq) AS BIGINT) AS w_q
       |       FROM bt JOIN ld ON bt.b = ld.b GROUP BY 1),
       |wz AS (SELECT doc_id, w_q, CAST(doc_id AS HUGEINT) AS z FROM wq),
       |${graft.queries.SqlHash.mix64Ctes("wz", "doc_id, w_q", "wm")},
       |ky AS (SELECT doc_id, w_q,
       |         CAST(w_q AS DOUBLE) / 1000000.0 - ln(-ln(${hashUSql("1000000008.0")})) AS key
       |       FROM wm),
       |ranked AS (SELECT doc_id, w_q,
       |             row_number() OVER (ORDER BY key DESC, doc_id) AS rn
       |           FROM ky)
       |SELECT doc_id, w_q, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= $DsirK""".stripMargin

  /** Exact per-stratum quantiles of doc length (p50/p90/p99 of n_chars per
    * language) — corpus-profile stats with INTEGER-EXACT rank selection:
    * rank_p = ceil(p·n/100) computed as `(n*p + 99) div 100`, value picked
    * by row_number with a doc_id tiebreak, so both engines select the
    * identical element (no interpolation, no float percentile semantics to
    * reconcile). One sort-shuffle per stratum; at 100 TB the same shape
    * runs on a per-split pre-aggregated (lang, n_chars, count) frame —
    * n_chars has bounded cardinality, so the window input collapses from
    * docs to distinct lengths long before the sort. */
  def quantilesByLang(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc, col("doc_id").asc)
    val wc = Window.partitionBy(col("lang"))
    def pick(p: Int) =
      max(when(col("rn") === expr(s"(n * $p + 99) div 100"), col("n_chars"))).as(s"p$p")
    docs.select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("lang")
      .agg(pick(50), pick(90), pick(99))
  }

  def quantilesByLangSql: String =
    s"""WITH r AS (SELECT lang, n_chars,
       |             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |             count(*) OVER (PARTITION BY lang) AS n
       |           FROM documents)
       |SELECT lang,
       |  CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS BIGINT) AS p50,
       |  CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS BIGINT) AS p90,
       |  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS BIGINT) AS p99
       |FROM r GROUP BY lang""".stripMargin

  /** Full DuckDB mirror of [[dedupWinnow]] ∘ [[withMutatedCopies]]: char
    * k-gram rolling hashes (base-257 poly → mix64, staged HUGEINT CTEs),
    * then the winnowing window scan as nested list lambdas — rightmost
    * window minimum with consecutive-selection dedup (the selected index is
    * non-decreasing as the window slides, so comparing each window's argmin
    * with the previous window's reproduces the lastIdx dedup exactly) —
    * then the same bucket-capped inverted-index pair join. Verified
    * bit-exact against Fingerprint.winnow (prototype, 2026-08-17). */
  def dedupWinnowSql: String = {
    import graft.queries.SqlHash._
    val (k, w) = (WinnowK, WinnowW)
    val gramPoly =
      s"list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
        s"list_transform(list_filter(string_split(substr(text, i, $k), ''), ch -> ch <> ''), " +
        s"ch -> CAST(unicode(ch) AS HUGEINT))), (h, c) -> (257*h + c) % $M64)"
    def rm(lo: String, hi: String) =
      s"list_max(list_filter(generate_series($lo, $hi), j -> hs[j] = list_min(list_slice(hs, $lo, $hi))))"
    s"""WITH $repsCtes,
       |g0 AS (
       |  SELECT doc_id, i.i, $gramPoly AS z
       |  FROM reps, LATERAL (SELECT unnest(generate_series(1, length(text) - $k + 1)) AS i) i
       |  WHERE length(text) >= $k),
       |${mix64Ctes("g0", "doc_id, i", "gm")},
       |hsl AS (SELECT doc_id, list(${toSigned("z")} ORDER BY i) AS hs
       |        FROM gm GROUP BY 1),
       |s0 AS (SELECT doc_id, ${fnv1a64("text")} AS z FROM reps
       |       WHERE length(text) < $k AND length(text) > 0),
       |${mix64Ctes("s0", "doc_id", "sm")},
       |winfull AS (
       |  SELECT doc_id, CASE WHEN len(hs) <= $w THEN [list_min(hs)]
       |    ELSE list_filter(
       |      list_transform(generate_series(1, len(hs) - $w + 1), s ->
       |        CASE WHEN s = 1 OR
       |          ${rm("s", s"s + $w - 1")} <> ${rm("s - 1", s"s + $w - 2")}
       |        THEN hs[${rm("s", s"s + $w - 1")}]
       |        END),
       |      v -> v IS NOT NULL)
       |    END AS fps
       |  FROM hsl),
       |allf AS (
       |  SELECT doc_id, unnest(fps) AS fp FROM winfull
       |  UNION ALL
       |  SELECT doc_id, ${toSigned("z")} AS fp FROM sm),
       |capped AS (SELECT doc_id, fp FROM (
       |  SELECT *, count(*) OVER (PARTITION BY fp) AS bsz FROM allf)
       |  WHERE bsz <= $MaxBucket),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
       |  FROM capped x JOIN capped y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(shared AS BIGINT) AS shared
       |FROM pairs WHERE shared >= $WinnowMinShared""".stripMargin
  }

  /** Stopword-profile language ID (n-gram heuristic over the fixed profiles;
    * deterministic argmax with alphabetical tie-break). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "das", "und", "slow"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("el", "la", "y", "big"),
    "fr" -> Seq("le", "la", "et", "fast"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), F.tokenize(col("text")).as("toks"))
    val scored = langProfiles.foldLeft(toks) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang",
        size(filter(col("toks"), t => t.isin(words.map(lit(_)): _*))))
    }
    val best = langProfiles.map(_._1).foldLeft((lit(""), lit(-1))) {
      case ((bl, bs), lang) =>
        val better = col(s"s_$lang") > bs
        (when(better, lit(lang)).otherwise(bl), when(better, col(s"s_$lang")).otherwise(bs))
    }
    scored.select(col("doc_id"), best._1.as("pred_lang"), best._2.cast("long").as("score"))
  }

  def langIdSql: String = {
    def s(words: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val cols = langProfiles.map { case (l, ws) => s"${s(ws)} AS s_$l" }.mkString(", ")
    // fold in the same order as the Scala side: strictly-greater replaces
    val (predExpr, scoreExpr) = langProfiles.map(_._1).foldLeft(("''", "-1")) {
      case ((bl, bs), lang) =>
        (s"CASE WHEN s_$lang > ($bs) THEN '$lang' ELSE ($bl) END",
          s"CASE WHEN s_$lang > ($bs) THEN s_$lang ELSE ($bs) END")
    }
    s"""WITH sc AS (SELECT doc_id, $cols FROM documents)
       |SELECT doc_id, $predExpr AS pred_lang, CAST($scoreExpr AS BIGINT) AS score
       |FROM sc""".stripMargin
  }

  /** Char-trigram language profiles (Cavnar–Trenkle '94 n-gram
    * categorization, simplified to weighted-sum scoring): per language, the
    * most frequent character trigrams of running text in rank order — drawn
    * from well-known public letter/trigram frequency data (ASCII subset).
    * Weight = profile length − rank, so top trigrams dominate. */
  val langNgramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("en ", "er ", " de", "der", "ie ", "die", "sch", "ein", "che",
      "ich", "nde", " di", "den", "in ", "te ", "ch ", " ei", "ung", "gen", "und"),
    "en" -> Seq(" th", "the", "he ", "ing", "ng ", "and", "nd ", " an", "ed ",
      " to", "er ", " of", "of ", "ion", " in", "ent", "es ", "is ", "ati", " co"),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "el ", " el", "que", " qu",
      "ue ", "en ", " en", "ent", "ar ", "nte", " co", "es ", "ado", "una", " un"),
    "fr" -> Seq(" de", "de ", "es ", "le ", "ent", " le", "nt ", "la ", " la",
      "on ", "ne ", "ion", "re ", " pa", "que", " qu", "les", "des", " et", "et "),
    "it" -> Seq(" di", "di ", "to ", " co", "re ", "la ", " la", "no ", "ne ",
      "che", " ch", "ell", "lla", "are", "ion", "zio", "one", " pe", "per", "del"),
    "nl" -> Seq("en ", " de", "de ", "an ", " he", "et ", "het", "van", " va",
      "der", "ijn", " ee", "een", "ver", "oor", " en", "aar", "ede", " ge", "ten"),
    "pt" -> Seq(" de", "de ", "os ", " co", "ar ", "da ", " da", "ent", "nte",
      "do ", " do", "ra ", "es ", "ue ", " qu", "que", " es", "ara", " pa", "com"),
    "sv" -> Seq("en ", "et ", " de", "och", " oc", "ch ", "ar ", "att", " at",
      "tt ", "det", " ha", "som", " so", "om ", "der", "ill", " ti", "ing", "an "))


  /** WIDE profile table (~30 languages): the 8 frozen literals above plus 22
    * more drawn the same way from public trigram/function-word frequency
    * data (Cavnar–Trenkle '94 method; ASCII subset, diacritics stripped).
    * This is a DATA artifact consumed through [[langIdNgramJoin]] — the
    * join+re-group shape that generalizes to learned per-domain profiles —
    * NOT through the frozen-literal native scorer. 15 trigrams per added
    * language, rank-weighted like the core 8. */
  val langNgramProfilesWide: Seq[(String, Seq[String])] = langNgramProfiles ++ Seq(
    "af" -> Seq("ie ", " di", "die", "en ", " en", "er ", "nie", " ni", "van",
      " va", "aan", "wat", " wa", "oor", "het"),
    "ca" -> Seq(" de", "de ", "es ", "la ", " la", "el ", " el", "que", " qu",
      "ent", "er ", "els", "at ", "ant", "per"),
    "cs" -> Seq(" po", "ne ", " ne", "ho ", "ou ", "na ", " na", "pro", " pr",
      "ost", "je ", " je", "eni", "se ", " se"),
    "da" -> Seq(" de", "de ", "er ", "en ", "et ", " og", "og ", "at ", " at",
      "der", "til", "ing", "ede", "for", "det"),
    "et" -> Seq("on ", " on", "se ", "ja ", " ja", "ud ", "da ", "ks ", "est",
      "ise", "le ", "ga ", "ta ", "sel", "ele"),
    "eu" -> Seq("en ", "an ", "eta", "ta ", " et", "ko ", "ak ", "rak", "tze",
      "zen", "ean", "tik", "era", "ren", "n e"),
    "fi" -> Seq("en ", "in ", "an ", "on ", " on", "ssa", "lla", "sta", "nen",
      "een", "aan", "ksi", "ta ", "ja ", " ja"),
    "gl" -> Seq(" de", "de ", "os ", "as ", "da ", " da", "do ", " do", "que",
      " qu", "unh", "nha", "ent", "con", " co"),
    "hr" -> Seq("je ", " je", "na ", " na", "ije", "og ", " pr", "ost", "ih ",
      "ko ", "ja ", "sti", "iti", "ti ", " ko"),
    "hu" -> Seq(" a ", "az ", " az", "ek ", "tt ", "ett", "nek", "gy ", "el ",
      " el", "et ", "ak ", "nak", "ban", "an "),
    "id" -> Seq("an ", "ang", "ng ", "yan", " ya", "kan", "ah ", "ber", " be",
      "nya", "ada", " ad", "dan", " da", "men"),
    "is" -> Seq("um ", "ad ", " ad", "ir ", "inn", " og", "og ", "ur ", "and",
      "ver", "eru", " er", "er ", "sem"),
    "lt" -> Seq("as ", "is ", "os ", "ai ", "us ", "ir ", " ir", "kai", " ka",
      "iau", "tai", "mas", "ti ", "pri", " pa"),
    "lv" -> Seq("as ", "ir ", " ir", "ar ", " ar", "ie ", "am ", "um ", "par",
      " pa", "aja", "ais", "tas", "vai", " va"),
    "no" -> Seq(" og", "og ", "er ", "en ", "et ", " de", "det", "som", " so",
      "til", "ing", "ene", "ker", " en", "ter"),
    "pl" -> Seq("ie ", "nie", " ni", " po", "ego", "ych", "ch ", "rze", "prz",
      "owa", "na ", " na", " do", "ani", "ej "),
    "ro" -> Seq(" de", "de ", " in", "in ", "ul ", "ea ", " si", "si ", "are",
      " ca", "re ", "le ", "ste", "la ", " la"),
    "sk" -> Seq(" po", "na ", " na", "ie ", "ch ", "je ", " je", "om ", "ho ",
      "ych", "pre", "sa ", " sa", "ou ", "ost"),
    "sl" -> Seq("je ", " je", "na ", " na", "pri", " pr", "ost", "ih ", "da ",
      " da", "jo ", "iti", "ti ", "em ", "anj"),
    "sq" -> Seq("te ", " te", "he ", " he", "dhe", " dh", "ne ", " ne", "per",
      " pe", "esh", "jes", "uar", "sht", "me "),
    "sw" -> Seq("wa ", " wa", "na ", " na", "ya ", " ya", "kwa", " kw", "ika",
      "ali", "a m", "a k", "ani", "kat", "a n"),
    "tr" -> Seq("lar", "ler", "bir", " bi", "ir ", "an ", "in ", "ara", "da ",
      "de ", "eri", "ik ", "ini", " ka", "ile"))
  require(langNgramProfilesWide.map(_._1).distinct.size == langNgramProfilesWide.size
    && langNgramProfilesWide.forall { case (_, ts) =>
         ts.forall(_.length == 3) && ts.distinct.size == ts.size },
    "wide lang profiles must be distinct 3-char trigrams per distinct language")

  /** Char-trigram language ID: doc score per language = Σ over the doc's
    * character trigram POSITIONS of the profile weight (overlap-correct);
    * argmax with alphabetical tie-break; docs matching no profile trigram
    * emit no row. Shape: a pure per-row map — ZERO exchanges. The scorer is
    * one native expression pass over the text (trigram keys packed into a
    * long, hash-map lookups against the frozen profile); the argmax folds
    * in-row over the 8 array slots (codegen'd CASE chain, same pattern as
    * [[langId]]). A fully in-row HOF variant (160 `size(filter(tris, ...))`
    * closed forms) was tried and measured 100× SLOWER — interpreted lambdas
    * re-deriving the trigram array per language. The NATIVE single-pass
    * expression ([[F.langNgramScores]]: one string scan, packed-long trigram
    * lookups) has neither problem: zero exchanges, measured well under the
    * join+pivot shape. The join+pivot form survives as
    * [[langIdNgramJoin]] — the shape that generalizes when the profile is
    * DATA (learned per-domain profiles) rather than a frozen literal. */
  def langIdNgram(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(F.langNgramBest(col("text"), langNgramProfiles)).as("b"))
      .select(col("doc_id"), col("b.pred_lang").as("pred_lang"),
        col("b.score").as("score"))

  /** The broadcast-dim-join formulation of [[langIdNgram]] (explode the
    * doc's trigrams, join the 160-row profile, re-group per doc) — kept for
    * the equivalence test and as the shape that generalizes when the
    * profile is data (not a literal): e.g. per-domain learned profiles. */
  def langIdNgramJoin(docs: DataFrame,
                      profiles: Seq[(String, Seq[String])] = langNgramProfiles): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val profRows = for {
      (l, ts) <- profiles
      (t, i) <- ts.zipWithIndex
    } yield (l, t, (ts.size - i).toLong)
    val prof = profRows.toDF("plang", "tri", "wt")
    val tris = docs.select(col("doc_id"),
      explode(F.charNgrams(col("text"), 3)).as("tri"))
    tris.join(broadcast(prof), "tri")
      .groupBy(col("doc_id"), col("plang")).agg(sum("wt").as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("plang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang").as("pred_lang"), col("score"))
  }

  def langIdNgramSql: String = langIdNgramSqlOver(langNgramProfiles)

  /** `lang_id_wide` oracle: same shape over the wide profile table. */
  def langIdNgramWideSql: String = langIdNgramSqlOver(langNgramProfilesWide)

  private def langIdNgramSqlOver(profiles: Seq[(String, Seq[String])]): String = {
    val rows = (for {
      (l, ts) <- profiles
      (t, i) <- ts.zipWithIndex
    } yield s"('$l', '$t', ${ts.size - i})").mkString(", ")
    s"""WITH prof(plang, tri, wt) AS (VALUES $rows),
       |tris AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(1, greatest(length(text) - 2, 0)),
       |                               i -> substr(text, i, 3))) AS tri
       |  FROM documents),
       |sc AS (SELECT doc_id, plang, CAST(sum(wt) AS BIGINT) AS score
       |       FROM tris JOIN prof USING (tri) GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                   ORDER BY score DESC, plang ASC) AS rn
       |      FROM sc)
       |SELECT doc_id, plang AS pred_lang, score FROM r WHERE rn = 1""".stripMargin
  }

  /** Quality scoring: token count, type-token ratio, stopword ratio, and a
    * composite score — exact rational arithmetic (oracle-identical). */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), F.tokenize(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(lit("the"), lit("a")))).cast("long"))
      .withColumn("quality", round(
        (col("n_uniq").cast("double") / col("n_tok")) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tok")) * 0.5, 6))
      .select(col("doc_id"), col("n_tok"), col("n_uniq"), col("n_stop"), col("quality"))

  def qualityScoreSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents)
       |SELECT doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_tok,
       |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
       |       CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
       |       round((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.5 +
       |             (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)) * 0.5,
       |             6) AS quality
       |FROM t""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (ceil(chars/4) per token, summed). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), F.tokenize(col("text")).as("toks"))
      .withColumn("n_ws", size(col("toks")).cast("long"))
      .withColumn("n_bpe_est",
        aggregate(col("toks"), lit(0L), (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long")))
      .select(col("doc_id"), col("n_ws"), col("n_bpe_est"))

  def tokenCountSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws,
       |       CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_est
       |FROM t""".stripMargin

  // =================================================================
  // HyperLogLog distinct sketch (Flajolet et al. '07): per-language
  // distinct-token cardinality with m = 64 registers over FNV-1a 64
  // token hashes. The whole sketch is integer-exact and FULLY mirrored
  // in DuckDB: the hash via SqlHash's HUGEINT limb arithmetic, bucket /
  // window via two's-complement & and arithmetic >> (verified identical
  // to the JVM's), rho via length(bin(w)) (both engines print binary
  // without leading zeros), and the register sum as Σ 2^(33-rho) BIGINT
  // (order-independent — the ann_cosine discipline). Only the final
  // estimate touches doubles, in token-identical order, rounded to 4.
  // Scale: the register table is (n_groups × 64) rows regardless of
  // corpus size — the map-combined max() is the whole shuffle; this is
  // the mergeable-sketch shape a 1000-executor rollup needs.
  // =================================================================

  /** Per-lang HLL(m=64) over distinct tokens + the exact distinct count
    * alongside (the sketch's error is visible in the output). */
  def hllDistinct(docs: DataFrame): DataFrame = {
    // distinct (lang, token) pre-collapse: map-side partial, hash-only
    // payload downstream (tokens never ride the register shuffle)
    val hashed = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .select(col("lang"), F.fnv1a64(col("tok")).as("h"))
      .persist() // two consumers: registers and the exact count
    val regs = hashed
      .select(col("lang"),
        col("h").bitwiseAND(lit(63L)).as("b"),
        shiftright(col("h"), 6).bitwiseAND(lit(4294967295L)).as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(33L))
          .otherwise(lit(33L) - length(bin(col("w"))).cast("long")))
      .groupBy(col("lang"), col("b")).agg(max(col("rho")).as("r"))
      // 2^(33-rho) as an arithmetic shift of 2^33 — functions.shiftright
      // only takes a literal shift, so the column-shift goes through expr
      .groupBy(col("lang")).agg(
        sum(expr("shiftright(8589934592, cast(r as int))")).as("s_present"),
        count(lit(1)).as("nb"))
      .withColumn("s_q",
        col("s_present") + (lit(64L) - col("nb")) * lit(8589934592L))
      .withColumn("v", lit(64L) - col("nb"))
    val exact = hashed.groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0)) *
      lit(4096.0) * lit(8589934592.0) / col("s_q").cast("double")
    regs.join(exact, "lang")
      .withColumn("hll_est", round(
        when(raw <= lit(160.0) && col("v") > 0,
          lit(64.0) * log(lit(64.0) / col("v").cast("double")))
          .otherwise(raw), 4))
      .select(col("lang"), col("n_exact"), col("s_q"), col("hll_est"))
  }

  def hllDistinctSql: String = {
    import graft.queries.SqlHash._
    val hs = toSigned(fnv1a64("tok"))
    val raw = "CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE)) * " +
      "CAST(4096.0 AS DOUBLE) * CAST(8589934592.0 AS DOUBLE) / CAST(s_q AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hv AS (SELECT lang, $hs AS h FROM toks),
       |bw AS MATERIALIZED (
       |  SELECT lang, h & 63 AS b, (h >> 6) & 4294967295 AS w FROM hv),
       |rg AS (
       |  SELECT lang, b,
       |         max(CASE WHEN w = 0 THEN 33
       |                  ELSE 33 - length(bin(w)) END) AS r
       |  FROM bw GROUP BY 1, 2),
       |ag AS (
       |  SELECT lang,
       |         CAST(sum(8589934592 >> r) AS BIGINT) AS s_present,
       |         CAST(count(*) AS BIGINT) AS nb
       |  FROM rg GROUP BY 1),
       |sq AS (
       |  SELECT lang, s_present + (64 - nb) * 8589934592 AS s_q, 64 - nb AS v
       |  FROM ag),
       |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM bw GROUP BY 1)
       |SELECT sq.lang, ex.n_exact, sq.s_q,
       |       round(CASE WHEN $raw <= CAST(160.0 AS DOUBLE) AND v > 0
       |                  THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) / CAST(v AS DOUBLE))
       |                  ELSE $raw END, 4) AS hll_est
       |FROM sq JOIN ex ON sq.lang = ex.lang""".stripMargin
  }

  // =================================================================
  // Corpus n-gram LM counts: global bigram frequencies, top-100. The
  // canonical LM-training count job: per-doc bigram explode (one
  // transform per document, not per token — HOF cost is per-row), a
  // map-side-combined global groupBy, and TakeOrdered for the top-k (a
  // per-partition partial top-100, never a global sort).
  // =================================================================

  final val NgramTopK = 100

  def ngramCounts(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(NgramTopK)

  def ngramCountsSql: String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
       |ng AS (
       |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
       |                i -> t[i] || ' ' || t[i + 1])) AS ngram
       |  FROM t WHERE len(t) >= 2)
       |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
       |FROM ng GROUP BY 1
       |ORDER BY cnt DESC, ngram ASC LIMIT $NgramTopK""".stripMargin

  // =================================================================
  // KMV distinct sketch (k-minimum-values; Bar-Yossef et al. '02):
  // per-language distinct-BIGRAM cardinality estimated from the k-th
  // smallest hash in UNSIGNED order, next to the exact count (the
  // sketch's error is visible in the output). Unsigned order over the
  // signed 64-bit hashes is h XOR Long.MinValue — order-isomorphic and
  // exact on both engines; the k-th minimum is one per-group
  // row_number window whose state is k rows. Only the final estimate
  // (k−1)·2^64/U touches doubles, token-identically, rounded to 4.
  // Scale: the post-distinct payload is hashes only (bigrams never
  // ride the ranking shuffle), and like HLL the result is one row per
  // group — the mergeable-sketch shape (the k smallest hashes of a
  // union are computable from each side's k smallest).
  // =================================================================

  // =================================================================
  // Term burstiness across crawl batches: per-(term, batch) counts vs
  // the term's own batch distribution — the temporal-anomaly view of
  // the corpus (which vocabulary spikes in which crawl slice). The
  // batch key is the deterministic crawl-batch id (doc_id % 8). Bins a
  // term never hits matter (a missing bin is a −mean deviation), so
  // the count frame densifies against the term dim × 8 bins before
  // scoring — the term dim is vocabulary-sized, never corpus-sized.
  // dev = 8·c − n_t stays an exact integer (cleared denominator, the
  // moran_i discipline); only the final z divides, token-identically,
  // with a ssd=0 guard on both engines.
  // =================================================================

  def termBurst(docs: DataFrame): DataFrame = {
    val ct = docs
      .select((col("doc_id") % 8).as("b"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"), col("b")).agg(count(lit(1)).as("c"))
    val dense = ct.select(col("tok")).distinct()
      .withColumn("b", explode(sequence(lit(0L), lit(7L))))
      .join(ct, Seq("tok", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wt = Window.partitionBy("tok")
    val scored = dense
      .withColumn("n_t", sum(col("c")).over(wt))
      .withColumn("dev", lit(8L) * col("c") - col("n_t"))
      .withColumn("ssd", sum(col("dev") * col("dev")).over(wt))
    scored.select(col("tok"), col("b"), col("c"), col("dev"),
      when(col("ssd") === 0, lit(0.0))
        .otherwise(round(col("dev").cast("double") /
          sqrt(col("ssd").cast("double") / lit(8.0)), 4)).as("z_r"))
  }

  def termBurstSql: String =
    s"""WITH ct AS MATERIALIZED (
       |  SELECT tok, b, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id % 8 AS b, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |dense AS (
       |  SELECT t.tok, bb.b, COALESCE(ct.c, 0) AS c
       |  FROM (SELECT DISTINCT tok FROM ct) t
       |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bb
       |  LEFT JOIN ct ON ct.tok = t.tok AND ct.b = bb.b),
       |devs AS (
       |  SELECT tok, b, c,
       |         CAST(8 * c - sum(c) OVER (PARTITION BY tok) AS BIGINT) AS dev
       |  FROM dense),
       |scored AS (
       |  SELECT *, CAST(sum(dev * dev) OVER (PARTITION BY tok) AS BIGINT) AS ssd
       |  FROM devs)
       |SELECT tok, b, c, dev,
       |       CASE WHEN ssd = 0 THEN 0.0
       |            ELSE round(CAST(dev AS DOUBLE) / sqrt(CAST(ssd AS DOUBLE) / 8.0), 4)
       |       END AS z_r
       |FROM scored""".stripMargin

  private val KmvK = 16

  /** Per-lang KMV(k=16) over distinct bigram hashes + exact count. */
  def kmvDistinct(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("lang"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bg"))
      .distinct()
      .select(col("lang"), F.fnv1a64(col("bg")).as("h"))
      .persist() // two consumers: the k-th minimum and the exact count
    val kth = hashed
      .withColumn("ux", col("h").bitwiseXOR(lit(Long.MinValue)))
      .withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy(col("ux").asc)))
      .filter(col("rn") === KmvK)
    val exact = hashed.groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
    kth.join(exact, "lang")
      .withColumn("kmv_est", round(
        lit((KmvK - 1).toDouble) * lit(1.8446744073709552e19) /
          (col("ux").cast("double") + lit(9.223372036854776e18)), 4))
      .select(col("lang"), col("n_exact"), col("ux").as("kth_ux"), col("kmv_est"))
  }

  def kmvDistinctSql: String = {
    import graft.queries.SqlHash._
    val hs = toSigned(fnv1a64("bg"))
    s"""WITH t AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
       |bgs AS (
       |  SELECT DISTINCT lang, unnest(list_transform(generate_series(1, len(t) - 1),
       |                i -> t[i] || ' ' || t[i + 1])) AS bg
       |  FROM t WHERE len(t) >= 2),
       |hv AS MATERIALIZED (SELECT lang, $hs AS h FROM bgs),
       |ux AS (SELECT lang, xor(h, (-9223372036854775807 - 1)) AS ux FROM hv),
       |rk AS (
       |  SELECT lang, ux, row_number() OVER (PARTITION BY lang ORDER BY ux ASC) AS rn
       |  FROM ux),
       |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM hv GROUP BY 1)
       |SELECT rk.lang, ex.n_exact, rk.ux AS kth_ux,
       |       round(${(KmvK - 1).toDouble} * 1.8446744073709552e19 /
       |             (CAST(rk.ux AS DOUBLE) + 9.223372036854776e18), 4) AS kmv_est
       |FROM rk JOIN ex ON rk.lang = ex.lang WHERE rk.rn = $KmvK""".stripMargin
  }

  // =================================================================
  // Count-Min sketch heavy hitters (Cormode & Muthukrishnan '05): a
  // d=4 × w=1024 counter sketch over the corpus token stream, then
  // point estimates (min over the d rows) for a frozen query-term set
  // next to their exact counts — the CMS overestimate is visible in
  // the output. The d row hashes come from one FNV-1a 64 via
  // Kirsch–Mitzenmacher double hashing (h1 + r·h2, '06): all bucket
  // arithmetic is &/>>/%, bit-identical on both engines (the HLL
  // precedent), so the sketch is FULLY mirrored — no approximation in
  // the compare, only in the estimate itself. Scale: counters are
  // (d·w) cells regardless of corpus size, map-side combined — the
  // mergeable-sketch shape; tokens ride the shuffle as (row, bucket)
  // int pairs only.
  // =================================================================

  private val CmsDepth = 4
  private val CmsWidth = 1024L

  /** Frozen query terms (doc-vocab single tokens — the gazetteer's word
    * list, so every term actually occurs and both engines agree on the
    * surviving set after the inner joins). */
  val cmsTerms: Seq[String] = Seq(
    "data", "spark", "table", "query", "stream", "vector", "batch", "window",
    "hash", "join", "sort", "merge", "scan", "filter", "agg", "key",
    "value", "column", "group", "order", "part", "line", "row",
    "customer", "small", "big", "slow", "fast")

  def cmsTopk(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .persist() // two consumers: sketch counters and exact counts
    val sketch = toks
      .select(F.fnv1a64(col("tok")).as("h"))
      .select(explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("r"), col("h"))
      .select(col("r"),
        ((col("h").bitwiseAND(lit(4294967295L)) +
          col("r") * shiftright(col("h"), 32).bitwiseAND(lit(4294967295L)))
          % lit(CmsWidth)).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    val qb = cmsTerms.toDF("term")
      .select(col("term"), F.fnv1a64(col("term")).as("h"))
      .select(col("term"), explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("r"), col("h"))
      .select(col("term"), col("r"),
        ((col("h").bitwiseAND(lit(4294967295L)) +
          col("r") * shiftright(col("h"), 32).bitwiseAND(lit(4294967295L)))
          % lit(CmsWidth)).as("b"))
    val est = sketch.join(broadcast(qb), Seq("r", "b"))
      .groupBy(col("term")).agg(min(col("cnt")).as("est_cnt"))
    val exact = toks.join(broadcast(cmsTerms.toDF("term")), col("tok") === col("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
    exact.join(est, "term")
      .select(col("term"), col("true_cnt"), col("est_cnt"))
  }

  def cmsTopkSql: String = {
    import graft.queries.SqlHash._
    val hTok = toSigned(fnv1a64("tok"))
    val hTerm = toSigned(fnv1a64("term"))
    def bucket(h: String): String =
      s"((($h) & 4294967295) + r.r * ((($h) >> 32) & 4294967295)) % $CmsWidth"
    val terms = cmsTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |rows4(r) AS (SELECT unnest([0, 1, 2, 3])),
       |hv AS (SELECT $hTok AS h FROM toks),
       |sk AS MATERIALIZED (
       |  SELECT r.r AS r, ${bucket("h")} AS b, CAST(count(*) AS BIGINT) AS cnt
       |  FROM hv, rows4 r GROUP BY 1, 2),
       |q(term) AS (VALUES $terms),
       |qh AS (SELECT term, $hTerm AS h FROM q),
       |qb AS (SELECT term, r.r AS r, ${bucket("h")} AS b FROM qh, rows4 r),
       |est AS (
       |  SELECT term, CAST(min(cnt) AS BIGINT) AS est_cnt
       |  FROM qb JOIN sk ON qb.r = sk.r AND qb.b = sk.b GROUP BY 1),
       |ex AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
       |  FROM toks JOIN q ON tok = q.term GROUP BY 1)
       |SELECT ex.term, true_cnt, est_cnt
       |FROM ex JOIN est ON ex.term = est.term""".stripMargin
  }

  /** Rolling-hash document fingerprint + simhash. Full DuckDB oracle (the
    * 64-bit integer math is reproduced bit-exactly via HUGEINT limb
    * arithmetic — see [[graft.queries.SqlHash]]); additionally frozen by
    * ScalaTest goldens. */
  def docFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), F.docFingerprint(col("text")).as("fp"),
      F.simhash64(col("text")).as("sh"))

  /** Per-doc SimHash64 as unsigned HUGEINT column `v`, over docs CTE `src`
    * (must expose doc_id, text): shared by the fingerprint and simhash-dedup
    * oracles. Final CTE is named `shv`. */
  private def simhashCtes(src: String): String = {
    import graft.queries.SqlHash._
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src),
       |th AS (SELECT doc_id, ${fnv1a64("tok")} AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, b.b,
       |         sum(CASE WHEN CAST((h // ($pows64[b.b + 1])) % 2 AS BIGINT) = 1
       |                  THEN 1 ELSE -1 END) AS cnt
       |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) b
       |  GROUP BY 1, 2),
       |shv AS (SELECT doc_id, sum(CASE WHEN cnt > 0 THEN $pows64[b + 1]
       |                                ELSE CAST(0 AS HUGEINT) END) AS v
       |        FROM bits GROUP BY 1)""".stripMargin
  }

  /** Full mirror of [[docFingerprints]]: fp = mix64(base-257 rolling
    * polynomial), sh = SimHash64 over FNV-1a token hashes. */
  def docFingerprintSql: String = {
    import graft.queries.SqlHash._
    s"""WITH p AS (SELECT doc_id, text, ${poly257("text")} AS z FROM documents),
       |${mix64Ctes("p", "doc_id, text", "m")},
       |${simhashCtes("m")}
       |SELECT m.doc_id, ${toSigned("m.z")} AS fp, ${toSigned("shv.v")} AS sh
       |FROM m JOIN shv USING (doc_id)""".stripMargin
  }

  /** Full mirror of [[dedupSimHash]] ∘ [[withMutatedCopies]]: exact-rep
    * collapse → SimHash64 → 4×16-bit band explode → bucket cap → band
    * equi-join → exact Hamming ≤ 3. Hamming over 32-bit limbs (BIGINT
    * bit_count). */
  def dedupSimHashSql: String = {
    import graft.queries.SqlHash._
    val ham =
      s"(bit_count(xor(CAST(x.v // 4294967296 AS BIGINT), CAST(y.v // 4294967296 AS BIGINT))) + " +
        s"bit_count(xor(CAST(x.v % 4294967296 AS BIGINT), CAST(y.v % 4294967296 AS BIGINT))))"
    s"""WITH $repsCtes,
       |${simhashCtes("reps")},
       |banded AS (
       |  SELECT doc_id, v,
       |         CAST((v // $pows64[i.i * 16 + 1]) % 65536 AS BIGINT) + i.i * 65536 AS band
       |  FROM shv, (SELECT unnest(generate_series(0, 3)) AS i) i),
       |capped AS (SELECT doc_id, v, band FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band) AS bsz FROM banded)
       |  WHERE bsz <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
       |  FROM capped x JOIN capped y ON x.band = y.band AND x.doc_id < y.doc_id)
       |SELECT a, b, CAST(hamming AS INTEGER) AS hamming
       |FROM pairs WHERE hamming <= $MaxHamming""".stripMargin
  }

  // =================================================================
  // Repetition-based quality metrics (Gopher-style filters, Rae et al.
  // 2021 "Scaling Language Models" §A1.1; C4, Raffel et al. 2020) —
  // fraction of tokens that are the single most frequent word, and the
  // duplicate word-bigram fraction. Pure per-row map: zero shuffles at
  // any corpus size, fully codegen'd built-ins.
  // =================================================================

  final val MaxTopWordFrac = 0.30
  final val MaxDupBigramFrac = 0.50

  /** Per-doc repetition metrics + keep/drop gate. `top_word_frac` is the
    * count of the most frequent token over n_tok; `dup_bigram_frac` is
    * 1 − distinct/total over adjacent word bigrams. The thresholds
    * ([[MaxTopWordFrac]], [[MaxDupBigramFrac]]) follow the Gopher
    * repetition-filter family; the gate is emitted as 0/1 so the oracle
    * compare is type-stable. */
  def qualityRepetition(docs: DataFrame): DataFrame =
    withRepetition(docs.select(col("doc_id"), F.tokenize(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long")))
      .select(col("doc_id"), col("n_tok"),
        col("twf").as("top_word_frac"), col("dbf").as("dup_bigram_frac"), repKeep.as("keep"))

  /** The repetition metrics of `toks` (n_tok of them): `twf` and `dbf`,
    * after their work columns top_word, bi and n_bi. */
  private def withRepetition(df: DataFrame): DataFrame =
    df
      .withColumn("top_word", array_max(transform(array_distinct(col("toks")),
        d => size(filter(col("toks"), t => t === d)))).cast("long"))
      .withColumn("bi",
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>")))
      .withColumn("n_bi", size(col("bi")).cast("long"))
      .withColumn("twf", round(col("top_word").cast("double") / col("n_tok"), 6))
      .withColumn("dbf",
        when(col("n_bi") > 0,
          round((col("n_bi") - size(array_distinct(col("bi"))).cast("long")).cast("double") /
            col("n_bi"), 6))
          .otherwise(lit(0.0)))

  /** The repetition gate over `twf` and `dbf`, as 0/1. */
  private def repKeep: Column =
    (col("twf") <= MaxTopWordFrac && col("dbf") <= MaxDupBigramFrac).cast("int")

  def qualityRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (SELECT doc_id, toks,
       |             CASE WHEN len(toks) >= 2
       |                  THEN list_transform(generate_series(1, len(toks) - 1),
       |                                      i -> toks[i] || ' ' || toks[i + 1])
       |                  ELSE CAST([] AS VARCHAR[]) END AS bi
       |      FROM t),
       |m AS (SELECT doc_id,
       |             CAST(len(toks) AS BIGINT) AS n_tok,
       |             CAST(list_max(list_transform(list_distinct(toks),
       |                    d -> len(list_filter(toks, x -> x = d)))) AS BIGINT) AS top_word,
       |             CAST(len(bi) AS BIGINT) AS n_bi,
       |             CAST(len(list_distinct(bi)) AS BIGINT) AS n_bi_uniq
       |      FROM b),
       |f AS (SELECT doc_id, n_tok,
       |             round(CAST(top_word AS DOUBLE) / n_tok, 6) AS twf,
       |             CASE WHEN n_bi > 0
       |                  THEN round(CAST(n_bi - n_bi_uniq AS DOUBLE) / n_bi, 6)
       |                  ELSE 0.0 END AS dbf
       |      FROM m)
       |SELECT doc_id, n_tok, twf AS top_word_frac, dbf AS dup_bigram_frac,
       |       CAST(CASE WHEN twf <= $MaxTopWordFrac AND dbf <= $MaxDupBigramFrac
       |                 THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM f""".stripMargin

  // =================================================================
  // PII scrubbing — regex redaction of emails and phone-like tokens, the
  // standard pre-training hygiene pass. Per-row regexp_replace (codegen'd,
  // no shuffle); the regexes are written in the Java∩RE2-compatible subset
  // so the DuckDB mirror is literally the same pattern.
  // =================================================================

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** Deterministic PII planting (the synth corpus has none): docs with
    * doc_id % 7 == 0 gain an email, % 11 == 0 a 555-prefixed phone —
    * mirrored token-for-token in the oracle so redaction counts have
    * ground truth. */
  def withPiiPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
        .as("text"))

  /** Redacted text + per-doc match counts. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("clean"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"))

  def piiScrubSql: String = {
    // same patterns; DuckDB needs the 'g' flag for replace-all (Java
    // regexp_replace is global by default)
    val email = EmailRe
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         text ||
       |         CASE WHEN doc_id % 7 = 0
       |              THEN ' contact user' || doc_id || '@example.com now'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 11 = 0
       |              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |       regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |                      '$PhoneRe', '<PHONE>', 'g') AS clean,
       |       CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phone
       |FROM aug""".stripMargin
  }

  // =================================================================
  // URL canonicalization + dedup — collapse crawl URLs that differ only
  // by scheme/host case, a www. prefix, tracking params, fragments, or a
  // trailing slash (the standard crawl-frontier normalization). The
  // group key is the canonical url: one shuffle on a short string key.
  // =================================================================

  /** Canonical form: lowercase, fragment stripped, `utm_*`-only query
    * strings dropped, `://www.` collapsed, trailing slash removed. Built
    * from codegen'd string built-ins only. */
  def canonicalUrl(url: Column): Column = {
    val lower0 = lower(url)
    val noFrag = regexp_replace(lower0, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "\\?utm_[a-z_]+=[^#]*$", "")
    val noWww = regexp_replace(noUtm, "://www\\.", "://")
    regexp_replace(noWww, "/$", "")
  }

  /** Group pages by canonical url; keep the lowest doc_id as the
    * representative and report the collapse factor. */
  def urlDedup(pages: DataFrame): DataFrame =
    pages
      .withColumn("canon_url", canonicalUrl(col("url")))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_dup"), min(col("doc_id")).as("rep_doc"))

  /** Deterministic messy-URL synthesis over doc_id (5 docs share a path;
    * scheme/host case, www., utm params, fragments and trailing slashes
    * vary) — mirrored in [[urlDedupSql]]. */
  def syntheticUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 2 === 0, lit("www.Example.org")).otherwise(lit("example.org")),
        lit("/doc/"), (col("doc_id") / 5).cast("long").cast("string"),
        when(col("doc_id") % 4 === 1, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&utm_campaign=c"), (col("doc_id") % 3).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 4, concat(lit("#sec"), (col("doc_id") % 7).cast("string")))
          .otherwise(lit("")))
        .as("url"))

  def urlDedupSql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
       |         (CASE WHEN doc_id % 2 = 0 THEN 'www.Example.org' ELSE 'example.org' END) ||
       |         '/doc/' || CAST(doc_id // 5 AS VARCHAR) ||
       |         (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
       |         (CASE WHEN doc_id % 2 = 0
       |               THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
       |               ELSE '' END) ||
       |         (CASE WHEN doc_id % 6 = 4 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR)
       |               ELSE '' END) AS url
       |  FROM documents),
       |c AS (SELECT doc_id,
       |             regexp_replace(
       |               regexp_replace(
       |                 regexp_replace(
       |                   regexp_replace(lower(url), '#.*$$', ''),
       |                   '\\?utm_[a-z_]+=[^#]*$$', ''),
       |                 '://www\\.', '://'),
       |               '/$$', '') AS canon_url
       |      FROM u)
       |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dup,
       |       min(doc_id) AS rep_doc
       |FROM c GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Full-text retrieval (BM25) and keyword extraction (TF-IDF) — the
  // search-engine half of a web-corpus pipeline (Robertson–Spärck Jones
  // BM25, public construction).
  // --------------------------------------------------------------------

  /** Fixed query fixture for [[bm25TopK]] — terms drawn from the synthetic
    * vocabulary. One source of truth for BOTH the Spark frame and the SQL
    * VALUES mirror, so the fixtures can never drift. */
  val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "spark", 0 -> "join",
    1 -> "hash", 1 -> "table", 1 -> "scan",
    2 -> "window", 2 -> "filter",
    3 -> "customer", 3 -> "order", 3 -> "batch",
    4 -> "vector", 4 -> "merge",
    5 -> "group", 5 -> "agg", 5 -> "column")

  /** Per-(doc, term) tf with the doc length carried through the explode —
    * zero extra doc-keyed join to recover dl. One exchange on
    * (doc_id, term) with map-side partial counts. */
  private def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))

  /** BM25 per-term score, written ONCE and token-for-token mirrored in the
    * oracle SQL (k1 = 1.2, b = 0.75; all operands explicitly widened to
    * double in the same order on both sides). The per-term contribution is
    * quantized to 1e-6 BEFORE the per-doc sum, so the aggregate is an
    * integer sum — order-independent across partial aggregation and across
    * engines (the same trick as ann_cosine's int dot product; a raw double
    * sum's value depends on addition order). */
  private def bm25TermScoreQ: Column = {
    val nd = col("n_docs").cast("double")
    val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val sumdl = col("sum_dl").cast("double")
    val idf = log(lit(1.0) + (nd - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val s = idf * (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld * nd / sumdl)))
    round(s * lit(1000000.0)).cast("long")
  }

  final val Bm25K = 10

  /** BM25 top-k retrieval: score every document against [[bm25Queries]]
    * and keep the [[Bm25K]] best per query.
    *
    * Shuffle budget at corpus scale: ONE wide exchange (the (doc_id, term)
    * tf aggregation over the exploded corpus, map-side combined; the
    * query-matched slice is persisted so df derivation never re-runs that
    * lineage), then the query join and both stats joins are broadcasts (the
    * query list and its per-term df are query-sized; the corpus stats row is
    * a 1-row cross join), the (qid, doc_id) score aggregation is a second
    * exchange of the
    * MATCHED rows only (query-term selectivity has already dropped
    * everything else), and the final per-qid top-k plans as a partial
    * WindowGroupLimit — each map task forwards at most k rows per query, so
    * few queries over many docs never funnel the corpus onto few tasks. */
  def bm25TopK(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = termFreq(docs)
    val stats = docs.select(split(col("text"), " ").as("toks"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("sum_dl"))
    val qdf = bm25Queries.toDF("qid", "term")
    // The query-matched tf slice feeds BOTH the per-term df aggregate and
    // the scoring join: persisted, or the corpus-wide tf lineage (scan +
    // explode + (doc,term) exchange) runs twice just to count a query-sized
    // df table. df stays a map-combined groupBy + broadcast (a term-keyed
    // window here would funnel a hot term's full posting list through one
    // partition).
    val matched = tf
      .join(broadcast(qdf.select(col("term")).distinct()), "term")
      .persist()
    val dft = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = matched
      .join(broadcast(qdf), "term")
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .withColumn("sq", bm25TermScoreQ)
    scored.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("sq")).as("score_q"), count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score_q").desc, col("doc_id").asc)))
      .filter(col("rnk") <= Bm25K)
  }

  /** Mirror of [[bm25TopK]]: identical arithmetic (ln form, cast order,
    * quantize-then-sum); query fixture rendered from the same Seq. */
  def bm25Sql: String = {
    val vals = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q(qid, term) AS (VALUES $vals),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, term, max(dl) AS dl, count(*) AS tfc
       |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d)
       |  GROUP BY 1, 2),
       |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM d),
       |dft AS (
       |  SELECT term, count(*) AS df FROM tf
       |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
       |sc AS (
       |  SELECT q.qid, tf.doc_id,
       |         CAST(round(
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (CAST(tfc AS DOUBLE) * 2.2)
       |           / (CAST(tfc AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |                (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                 / CAST(sum_dl AS DOUBLE))))
       |           * 1000000.0) AS BIGINT) AS sq
       |  FROM tf JOIN q ON tf.term = q.term JOIN dft ON tf.term = dft.term,
       |       stats),
       |agg AS (SELECT qid, doc_id, CAST(sum(sq) AS BIGINT) AS score_q,
       |               count(*) AS n_terms
       |        FROM sc GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, score_q, n_terms,
       |             CAST(row_number() OVER (PARTITION BY qid
       |               ORDER BY score_q DESC, doc_id ASC) AS INTEGER) AS rnk
       |      FROM agg)
       |SELECT qid, doc_id, score_q, n_terms, rnk FROM r WHERE rnk <= $Bm25K""".stripMargin
  }

  /** The perplexity gate's keep bound on the quantized mean NLL (1e-6 units). */
  final val KeepBelowQ = 3912000L

  /** Unigram-LM perplexity filter (the CCNet/Gopher-style quality gate: a
    * language model trained on the corpus scores each document; outliers are
    * dropped). The LM here is the corpus's own unigram MLE — the Spark shape
    * (one wide (doc,term) tf exchange, term-keyed model window, per-doc
    * integer-sum reduction) is exactly what a real external LM table plugs
    * into (an external LM swaps the window for a term equi-join). Per-token log-probs are quantized to 1e-6 integers BEFORE the
    * per-doc sum (tf × logp_q products and their sum are exact integer
    * arithmetic — order-independent); only the final mean divides, one IEEE
    * double division per doc. keep = mean NLL ≤ [[KeepBelowQ]] (high-perplexity
    * docs are the junk under a unigram LM). */
  def lmPerplexity(docs: DataFrame): DataFrame = {
    // tf feeds the global total, the unigram-count aggregate AND the
    // scoring join: persist it. The unigram model is a MAP-SIDE-COMBINED
    // groupBy — NOT a term-keyed window: term frequency is the canonical
    // Zipf key (a stopword appears in ~every doc), and a window funnels the
    // hot term's entire posting list through ONE task's buffer — the skew
    // carve-out in this repo's window-vs-join-back rule. The vocab-sized
    // model broadcasts under the dict ceiling (one tiny count job on the
    // cached tf); beyond it the term equi-join is AQE skew-splittable.
    // Identical values either way (sum(tf) per term).
    val tf = termFreq(docs).persist()
    val tot = tf.agg(sum(col("tf")).as("t_tok"))
    val lm = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val lmSide =
      if (lm.count() <= graft.ops.Geocode.BroadcastDictCeiling) broadcast(lm) else lm
    tf.join(lmSide, "term")
      .crossJoin(broadcast(tot))
      .withColumn("logp_q",
        round(log(col("cnt").cast("double") / col("t_tok").cast("double"))
          * lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("logp_q")).as("sum_q"), sum(col("tf")).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        round((-col("sum_q")).cast("double") / col("n_tok").cast("double"))
          .cast("long").as("nll_mean_q"))
      .withColumn("keep", (col("nll_mean_q") <= KeepBelowQ).cast("int"))
  }

  def lmPerplexitySql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tfc
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
       |  GROUP BY 1, 2),
       |lm AS (SELECT term, CAST(sum(tfc) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_tok FROM lm),
       |logp AS (
       |  SELECT term,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t_tok AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS logp_q
       |  FROM lm, tot),
       |agg AS (
       |  SELECT tf.doc_id, CAST(sum(tfc * logp_q) AS BIGINT) AS sum_q,
       |         CAST(sum(tfc) AS BIGINT) AS n_tok
       |  FROM tf JOIN logp ON tf.term = logp.term GROUP BY 1)
       |SELECT doc_id, n_tok,
       |       CAST(round(CAST(-sum_q AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT)
       |         AS nll_mean_q,
       |       CAST(CAST(round(CAST(-sum_q AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT)
       |            <= $KeepBelowQ AS INTEGER) AS keep
       |FROM agg""".stripMargin

  /** The frozen (term, logp_q) LM table [[lmPerplexity]] trains in-line —
    * exposed for the streaming scrub, which broadcasts it as a static
    * dimension (`TermStats.build(lmLogProbs(corpus))`). Same arithmetic as
    * the batch gate (sum-per-term ≡ the term window), so batch and stream
    * score identically. */
  def lmLogProbs(docs: DataFrame): DataFrame = {
    val lm = termFreq(docs).groupBy(col("term")).agg(sum(col("tf")).as("cnt")).persist()
    val tot = lm.agg(sum(col("cnt")).as("t_tok"))
    lm.crossJoin(broadcast(tot))
      .select(col("term"),
        round(log(col("cnt").cast("double") / col("t_tok").cast("double"))
          * lit(1000000.0)).cast("long").as("logp_q"))
  }

  /** The distinct eval-slice shingle hash set (sorted, for
    * `long_set_contains`) — [[decontaminate]]'s broadcast side exposed for
    * the streaming scrub. Dimension-sized by design (the eval set is a
    * benchmark suite, not a corpus share). */
  def evalShingleSet(docs: DataFrame): Array[Long] =
    docs.filter(col("doc_id") % EvalMod === EvalRes)
      .select(explode(F.shingleHashes(col("text"), ShingleN)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted

  /** Eval-set decontamination (the GPT-3/FLAN-style n-gram overlap scrub):
    * training documents sharing any token n-gram with a held-out eval set
    * are flagged (with the count of distinct shared shingles). The eval set
    * here is the deterministic doc_id % EvalMod == EvalRes slice; in a real
    * pipeline it is the benchmark suite — always dimension-sized, which is
    * why the eval shingle set BROADCASTS while the train side streams. Spark
    * joins on xxhash64(shingle) (8-byte keys instead of strings on the wide
    * exchange; a collision can only add a false flag at P ≈ |eval|·|train|
    * / 2^64 — the string-keyed oracle would catch one at test scale). */
  def decontaminate(docs: DataFrame, evalMod: Long = EvalMod, evalRes: Long = EvalRes): DataFrame = {
    // native shingle kernel (one pass, distinct per doc, hashes only — the
    // HOF transform∘concat_ws form ran interpreted per shingle position and
    // shipped n-token STRINGS through the explode; 8-byte hashes halve the
    // generated volume and the per-row cost — see F.shingleHashes)
    val sh = docs.select(col("doc_id"),
      explode(F.shingleHashes(col("text"), ShingleN)).as("h"))
    val ev = sh.filter(col("doc_id") % evalMod === evalRes)
      .select(col("h")).distinct()
    sh.filter(col("doc_id") % evalMod =!= evalRes)
      .join(broadcast(ev), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
  }

  def decontaminateSql: String =
    s"""WITH $augCte,
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
       |s AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $ShingleN
       |         THEN list_distinct(list_transform(
       |                generate_series(1, len(toks) - ${ShingleN - 1}),
       |                i -> array_to_string(list_slice(toks, i, i + ${ShingleN - 1}), ' ')))
       |         ELSE CAST([] AS VARCHAR[]) END) AS sh
       |  FROM d),
       |ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % $EvalMod = $EvalRes),
       |tr AS (SELECT doc_id, sh FROM s WHERE doc_id % $EvalMod <> $EvalRes)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
       |FROM tr JOIN ev USING (sh) GROUP BY 1""".stripMargin

  final val KeywordsM = 3

  /** Per-doc keyword extraction: top-[[KeywordsM]] terms by TF-IDF
    * (tf × ln(N/df), quantized to 1e-6 like [[bm25TopK]]). Unlike BM25 the
    * df dimension here is the FULL vocabulary — ~10^8 rows at web scale —
    * and term frequency is Zipf-skewed, so df comes from a
    * map-side-combined groupBy(term) joined back (broadcast under the dict
    * ceiling, AQE-skew-splittable term equi-join beyond), NOT a term-keyed
    * window: a window would buffer a stopword's ~n_docs rows in one task
    * (the skew carve-out in this repo's window-vs-join-back rule). tf
    * persists — it feeds the df aggregate and the scoring join. The
    * per-doc top-m window still plans as a partial WindowGroupLimit over
    * the (doc_id)-keyed exchange. */
  def keywordsTfIdf(docs: DataFrame): DataFrame = {
    val tf = termFreq(docs).persist()
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val q = round(
      col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")) *
        lit(1000000.0)).cast("long")
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dftSide =
      if (dft.count() <= graft.ops.Geocode.BroadcastDictCeiling) broadcast(dft) else dft
    tf.join(dftSide, "term")
      .crossJoin(broadcast(stats))
      .withColumn("tfidf_q", q)
      .filter(col("tfidf_q") > 0) // df = N terms carry zero signal
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf_q").desc, col("term").asc)))
      .filter(col("rnk") <= KeywordsM)
      .select(col("doc_id"), col("term"), col("tfidf_q"), col("rnk"))
  }

  def keywordsTfIdfSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tfc
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
       |  GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs FROM d),
       |sc AS (
       |  SELECT tf.doc_id, tf.term,
       |         CAST(round(CAST(tfc AS DOUBLE)
       |           * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS tfidf_q
       |  FROM tf JOIN dft ON tf.term = dft.term, stats),
       |r AS (SELECT doc_id, term, tfidf_q,
       |             CAST(row_number() OVER (PARTITION BY doc_id
       |               ORDER BY tfidf_q DESC, term ASC) AS INTEGER) AS rnk
       |      FROM sc WHERE tfidf_q > 0)
       |SELECT doc_id, term, tfidf_q, rnk FROM r WHERE rnk <= $KeywordsM""".stripMargin

  // =================================================================
  // Composed corpus curation — the full pre-training scrub as ONE per-doc
  // diagnostic frame: every gate this library implements (quality score,
  // repetition, LM perplexity, URL canonical rep, exact-dup rep, eval-slice
  // decontamination) computed independently over the corpus and conjoined
  // into the final `keep`. Independent flags (not sequential filtering) so
  // each gate's verdict is auditable per doc — the sequential materialized
  // form is graft.jobs.CurationJob.
  // =================================================================

  /** Deterministic curation fixture: the mutated-copy near-dups (every 10th
    * doc, last token dropped — feeds decontamination) PLUS verbatim clones
    * of every doc_id % 17 == 5 doc at id + 20M (feeds the exact-dup gate;
    * the raw synth corpus has no exact duplicates). */
  def curationFixture(docs: DataFrame): DataFrame = {
    val exactClones = docs.filter(col("doc_id") % 17 === 5)
      .withColumn("doc_id", col("doc_id") + 20000000L)
    withMutatedCopies(docs).unionByName(exactClones)
  }

  /** The two pure per-row curation gates (quality + repetition) as ONE
    * projection over a shared tokenization — zero exchanges at any scale.
    * Preserves the input columns plus (n_tok, quality, rep_keep): batch
    * [[curate]] projects down to the flags, the streaming scrub
    * ([[graft.streaming.StreamingIndex.curateStream]]) keeps the page. */
  def perRowGates(docs: DataFrame): DataFrame =
    withRepetition(docs.withColumn("toks", F.tokenize(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("quality", round(
        (size(array_distinct(col("toks"))).cast("long").cast("double") / col("n_tok")) * 0.5 +
          (lit(1.0) - size(filter(col("toks"), t => t.isin(lit("the"), lit("a"))))
            .cast("long").cast("double") / col("n_tok")) * 0.5, 6)))
      .withColumn("rep_keep", repKeep)
      .drop("toks", "top_word", "bi", "n_bi", "twf", "dbf")

  /** The quality gate's floor, in [[curate]] and the staged scrubs. */
  final val QualityMin = 0.75

  /** Per-doc curation diagnostics + final keep. The two pure per-row gates
    * (quality, repetition) fuse into ONE projection over a shared scan (zero
    * exchanges); each remaining gate is one scan and at most one
    * doc/term/url/hash-keyed SKINNY exchange (ids + hashes, never text); the
    * gate frames then equi-join on doc_id, so after the first doc_id exchange
    * the joins co-partition. At 10^12 docs every gate is the same shape it
    * has standalone — the composition adds doc_id joins, no new scale
    * hazard. */
  def curate(docs: DataFrame, evalMod: Long = EvalMod, evalRes: Long = EvalRes): DataFrame = {
    // quality + repetition are pure per-row gates over the SAME tokenization:
    // fused into one projection they cost zero exchanges and one shared scan
    // (as separate frames each forced its own doc_id exchange into the join).
    val qr = perRowGates(docs)
      .select(col("doc_id"), col("n_tok"), col("quality"), col("rep_keep"))
    val p = lmPerplexity(docs).select(col("doc_id"), col("keep").as("ppl_keep"))
    val u = syntheticUrls(docs)
      .withColumn("canon_url", canonicalUrl(col("url")))
      .withColumn("url_rep", (col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(col("canon_url")))).cast("int"))
      .select(col("doc_id"), col("url_rep"))
    // pre-project the hash so column pruning drops `text` below the window
    // exchange (an inline partitionBy(sha2(text)) ships the full corpus text
    // through the shuffle; the 32-byte column ships hashes only).
    val e = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("exact_rep", (row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id").asc)) === 1)
        .cast("int"))
      .select(col("doc_id"), col("exact_rep"))
    val d = decontaminate(docs, evalMod, evalRes)
    qr.join(p, "doc_id").join(u, "doc_id").join(e, "doc_id")
      .join(d, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matched"))
      .withColumn("is_eval", (col("doc_id") % evalMod === evalRes).cast("int"))
      .withColumn("q_keep", (col("quality") >= QualityMin).cast("int"))
      .withColumn("keep",
        (col("q_keep") === 1 && col("rep_keep") === 1 && col("ppl_keep") === 1 &&
          col("url_rep") === 1 && col("exact_rep") === 1 &&
          col("is_eval") === 0 && col("n_matched") === 0).cast("int"))
      .select(col("doc_id"), col("n_tok"), col("quality"), col("q_keep"),
        col("rep_keep"), col("ppl_keep"), col("url_rep"), col("exact_rep"),
        col("is_eval"), col("n_matched"), col("keep"))
  }

  /** Oracle mirror of [[curate]] ∘ [[curationFixture]] — each gate's CTE is
    * the token-for-token arithmetic of its standalone mirror, rebased from
    * `documents` onto the fixture corpus `aug2`. Multi-consumer CTEs are
    * MATERIALIZED (DuckDB re-inlines otherwise — see dupClustersSql). */
  def curateSql: String =
    s"""WITH $augCte,
       |aug2 AS MATERIALIZED (
       |  SELECT doc_id, text FROM aug
       |  UNION ALL
       |  SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 17 = 5),
       |t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM aug2),
       |q AS (SELECT doc_id,
       |             CAST(len(toks) AS BIGINT) AS n_tok,
       |             round((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.5 +
       |                   (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)) * 0.5,
       |                   6) AS quality
       |      FROM t),
       |rb AS (SELECT doc_id, toks,
       |              CASE WHEN len(toks) >= 2
       |                   THEN list_transform(generate_series(1, len(toks) - 1),
       |                                       i -> toks[i] || ' ' || toks[i + 1])
       |                   ELSE CAST([] AS VARCHAR[]) END AS bi
       |       FROM t),
       |rm AS (SELECT doc_id,
       |              CAST(len(toks) AS BIGINT) AS n_tok,
       |              CAST(list_max(list_transform(list_distinct(toks),
       |                     d -> len(list_filter(toks, x -> x = d)))) AS BIGINT) AS top_word,
       |              CAST(len(bi) AS BIGINT) AS n_bi,
       |              CAST(len(list_distinct(bi)) AS BIGINT) AS n_bi_uniq
       |       FROM rb),
       |rf AS (SELECT doc_id,
       |              round(CAST(top_word AS DOUBLE) / n_tok, 6) AS twf,
       |              CASE WHEN n_bi > 0
       |                   THEN round(CAST(n_bi - n_bi_uniq AS DOUBLE) / n_bi, 6)
       |                   ELSE 0.0 END AS dbf
       |       FROM rm),
       |rk AS (SELECT doc_id,
       |              CAST(CASE WHEN twf <= ${BigDecimal(MaxTopWordFrac).setScale(2)} AND dbf <= ${BigDecimal(MaxDupBigramFrac).setScale(2)}
       |                        THEN 1 ELSE 0 END AS INTEGER) AS rep_keep
       |       FROM rf),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tfc
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
       |  GROUP BY 1, 2),
       |lm AS (SELECT term, CAST(sum(tfc) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_tok FROM lm),
       |logp AS (
       |  SELECT term,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t_tok AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS logp_q
       |  FROM lm, tot),
       |pagg AS (
       |  SELECT tf.doc_id, CAST(sum(tfc * logp_q) AS BIGINT) AS sum_q,
       |         CAST(sum(tfc) AS BIGINT) AS n_tok
       |  FROM tf JOIN logp ON tf.term = logp.term GROUP BY 1),
       |pk AS (
       |  SELECT doc_id,
       |         CAST(CAST(round(CAST(-sum_q AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT)
       |              <= $KeepBelowQ AS INTEGER) AS ppl_keep
       |  FROM pagg),
       |uu AS (
       |  SELECT doc_id,
       |         (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
       |         (CASE WHEN doc_id % 2 = 0 THEN 'www.Example.org' ELSE 'example.org' END) ||
       |         '/doc/' || CAST(doc_id // 5 AS VARCHAR) ||
       |         (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
       |         (CASE WHEN doc_id % 2 = 0
       |               THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
       |               ELSE '' END) ||
       |         (CASE WHEN doc_id % 6 = 4 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR)
       |               ELSE '' END) AS url
       |  FROM aug2),
       |uc AS (SELECT doc_id,
       |              regexp_replace(
       |                regexp_replace(
       |                  regexp_replace(
       |                    regexp_replace(lower(url), '#.*$$', ''),
       |                    '\\?utm_[a-z_]+=[^#]*$$', ''),
       |                  '://www\\.', '://'),
       |                '/$$', '') AS canon_url
       |       FROM uu),
       |ur AS (SELECT doc_id,
       |              CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon_url)
       |                        THEN 1 ELSE 0 END AS INTEGER) AS url_rep
       |       FROM uc),
       |ee AS (SELECT doc_id,
       |              CAST(CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
       |                        THEN 1 ELSE 0 END AS INTEGER) AS exact_rep
       |       FROM aug2),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $ShingleN
       |         THEN list_distinct(list_transform(
       |                generate_series(1, len(toks) - ${ShingleN - 1}),
       |                i -> array_to_string(list_slice(toks, i, i + ${ShingleN - 1}), ' ')))
       |         ELSE CAST([] AS VARCHAR[]) END) AS s
       |  FROM t),
       |dev AS (SELECT DISTINCT s FROM sh WHERE doc_id % $EvalMod = $EvalRes),
       |dtr AS (SELECT doc_id, s FROM sh WHERE doc_id % $EvalMod <> $EvalRes),
       |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
       |       FROM dtr JOIN dev USING (s) GROUP BY 1)
       |SELECT q.doc_id, q.n_tok, q.quality,
       |       CAST(CASE WHEN q.quality >= $QualityMin THEN 1 ELSE 0 END AS INTEGER) AS q_keep,
       |       rk.rep_keep, pk.ppl_keep, ur.url_rep, ee.exact_rep,
       |       CAST(CASE WHEN q.doc_id % $EvalMod = $EvalRes THEN 1 ELSE 0 END AS INTEGER) AS is_eval,
       |       COALESCE(dc.n_matched, 0) AS n_matched,
       |       CAST(CASE WHEN q.quality >= $QualityMin AND rk.rep_keep = 1
       |                  AND pk.ppl_keep = 1 AND ur.url_rep = 1 AND ee.exact_rep = 1
       |                  AND q.doc_id % $EvalMod <> $EvalRes
       |                  AND COALESCE(dc.n_matched, 0) = 0
       |                 THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM q JOIN rk USING (doc_id) JOIN pk USING (doc_id)
       |       JOIN ur USING (doc_id) JOIN ee USING (doc_id)
       |       LEFT JOIN dc USING (doc_id)""".stripMargin

  // =================================================================
  // C4-style cross-doc line dedup (Raffel et al. 2020 §2.2: "we removed
  // any line that occurred more than once in the data set") — the
  // boilerplate scrub that kills nav bars / cookie banners / copyright
  // footers repeated across millions of pages. A line survives only at
  // its corpus-wide FIRST occurrence (lowest (doc_id, position)); every
  // later occurrence, across docs or within one, is dropped and the
  // doc's text reassembled from the survivors in order.
  // =================================================================

  /** Rotating boilerplate lines planted by [[withLines]] — one source of
    * truth for the Spark fixture and the SQL mirror. */
  val BoilerLines: Seq[String] = Seq(
    "all rights reserved worldwide",
    "subscribe to our newsletter today",
    "click here to read more",
    "copyright twenty twenty four")

  /** Deterministic page-with-lines fixture: the token stream is folded into
    * 10-token lines; a rotating boilerplate line (keyed doc_id % 4) heads
    * every doc and a second one tails every third doc. Cross-doc duplicate
    * lines exist by construction; mirrored token-for-token in
    * [[lineDedupSql]]. */
  def withLines(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = ceil(size(toks).cast("double") / lit(10.0)).cast("int")
    val body = transform(sequence(lit(1), nLines),
      i => array_join(slice(toks, (i - lit(1)) * lit(10) + lit(1), lit(10)), " "))
    val boilers = array(BoilerLines.map(lit): _*)
    val head0 = element_at(boilers, (col("doc_id") % 4).cast("int") + lit(1))
    val tail0 = when(col("doc_id") % 3 === 0,
      array(element_at(boilers, ((col("doc_id") + 1) % 4).cast("int") + lit(1))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"),
      array_join(concat(array(head0), body, tail0), "\n").as("text"))
  }

  /** The line-dedup operator. Scale shape — built for the one skew this
    * scrub is GUARANTEED to meet: a boilerplate line ("all rights
    * reserved") sits in ~10% of all pages, so any per-line window puts
    * 10^10+ rows on ONE reducer at corpus scale (window partitions cannot
    * be split). Instead:
    *
    *   1. survival is an ASSOCIATIVE aggregate — min(struct(doc_id, pos))
    *      per sha2(line) (32-byte key, never the line text) — which
    *      partial-aggregates map-side: the hot key arrives at its reducer
    *      as one candidate per map task, not one row per occurrence;
    *   2. the flag-back is a salted equi-join (D7 — the text scrub reuses
    *      the geocoder's skew machinery): line-hashes above `hotThreshold`
    *      occurrences spread over `saltS` reducers;
    *   3. reassembly is one groupBy(doc_id) exchange with the (pos, line)
    *      structs sorted in-row.
    *
    * Docs whose every line is boilerplate come back with clean_text = ''
    * (kept, countable) rather than vanishing. */
  def lineDedup(pages: DataFrame, saltS: Int = 8, hotK: Int = 16,
                hotThreshold: Long = 100000L): DataFrame = {
    import graft.pipeline.Skew
    // three consumers (winner agg, hot-key count, join probe) — persist the
    // explode; at cluster scale this cut is the written lines table
    val lines = pages.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", sha2(col("line"), 256))
      .persist()
    val winners = lines.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val hot = Skew.hotKeysAny(lines, "h", hotK, hotThreshold)
    // winners is per-LINE data (grows with the corpus) — never broadcastable;
    // Catalyst misestimates under the cached lines relation, so force the
    // shuffle-hash plan (the same rule as every per-doc join side here)
    val flagged = Skew.saltedJoinAny(
        lines.withColumn("_rid", xxhash64(col("doc_id"), col("pos"))),
        winners.hint("shuffle_hash"), "h", "_rid", hot, saltS)
      .withColumn("keep",
        (col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")).cast("int"))
    flagged.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("pos"), col("line"))))),
          s => s("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(lit(1) - col("keep")).as("n_removed"))
  }

  /** Oracle mirror of [[lineDedup]] ∘ [[withLines]]: the fixture's line
    * folding is rebuilt with list_slice (inclusive bounds ≡ Spark's
    * slice(start, length) clamp), the survival window partitions by the
    * LINE (same grouping as the 32-byte hash key), reassembly is an
    * ordered string_agg. */
  def lineDedupSql: String = {
    val boilerCase = BoilerLines.zipWithIndex
      .map { case (b, i) => s"WHEN $i THEN '$b'" }.mkString(" ")
    s"""WITH pages AS (
       |  SELECT doc_id,
       |         (CASE doc_id % 4 $boilerCase END) || chr(10) ||
       |         array_to_string(list_transform(
       |           generate_series(1, CAST(ceil(CAST(len(string_split(text, ' ')) AS DOUBLE) / 10.0) AS BIGINT)),
       |           i -> array_to_string(list_slice(string_split(text, ' '), (i - 1) * 10 + 1, i * 10), ' ')), chr(10)) ||
       |         (CASE WHEN doc_id % 3 = 0
       |               THEN chr(10) || (CASE (doc_id + 1) % 4 $boilerCase END)
       |               ELSE '' END) AS text
       |  FROM documents),
       |flat AS (
       |  SELECT doc_id, u.pos AS pos, u.line AS line
       |  FROM (SELECT doc_id, unnest(list_transform(
       |          generate_series(1, len(string_split(text, chr(10)))),
       |          i -> struct_pack(pos := i, line := string_split(text, chr(10))[i]))) AS u
       |        FROM pages)),
       |flagged AS (
       |  SELECT doc_id, pos, line,
       |         CASE WHEN row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
       |              THEN 1 ELSE 0 END AS keep
       |  FROM flat)
       |SELECT doc_id,
       |       coalesce(string_agg(CASE WHEN keep = 1 THEN line END, chr(10) ORDER BY pos), '') AS clean_text,
       |       CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(sum(1 - keep) AS BIGINT) AS n_removed
       |FROM flagged GROUP BY doc_id""".stripMargin
  }

  // =================================================================
  // Exact substring dedup (Lee et al. 2021, "Deduplicating Training
  // Data Makes Language Models Better"): remove every token span of
  // length >= k whose content occurs earlier anywhere in the corpus.
  // Their suffix-array construction is single-machine; the distributed
  // re-expression is k-gram granular and EXACT for it: a token is
  // removed iff it is covered by some k-token shingle whose content has
  // an earlier (doc_id, pos) occurrence — which removes precisely the
  // duplicated substrings of length >= k at k-gram resolution.
  // =================================================================

  /** The span length k. */
  final val SubstrK = 10

  /** Scale shape = [[lineDedup]]'s skeleton one level down (shingles, not
    * lines): survival is the associative min(struct(doc_id, pos)) per
    * sha2(shingle) — map-side partial agg, so a viral quote repeated 10^8
    * times never lands on one window reducer — and the flag-back join
    * salts hot shingle hashes (D7). Span removal is in-row: each doc's
    * dup starts are collected once (docs with none never join), then a
    * codegen'd HOF filter drops tokens covered by any [s, s+k) span. The
    * doc-keyed joins after the first exchange co-partition. */
  def dedupSubstr(docs: DataFrame, saltS: Int = 8,
                  hotK: Int = 16, hotThreshold: Long = 100000L): DataFrame = {
    import graft.pipeline.Skew
    val k = SubstrK
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    // (pos, hash) per k-token shingle; 0-based start positions. The 32-byte
    // hash is the shuffle key — shingle strings never ride an exchange.
    val sh = toks
      .withColumn("e", explode(when(col("n") >= k,
          transform(sequence(lit(1), col("n") - lit(k - 1)),
            i => struct((i - lit(1)).as("pos"),
              sha2(array_join(slice(col("toks"), i, lit(k)), " "), 256).as("h"))))
        .otherwise(array().cast("array<struct<pos:int,h:string>>"))))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))
      .persist()
    val winners = sh.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val hot = Skew.hotKeysAny(sh, "h", hotK, hotThreshold)
    // winners is per-SHINGLE data — same no-broadcast rule as [[lineDedup]]
    val dupStarts = Skew.saltedJoinAny(
        sh.withColumn("_rid", xxhash64(col("doc_id"), col("pos"))),
        winners.hint("shuffle_hash"), "h", "_rid", hot, saltS)
      .filter(!(col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    toks.join(dupStarts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(
        transform(col("toks"), (t, j) => struct(j.as("j"), t.as("t"))),
        p => !exists(col("starts"),
          s0 => s0 <= p("j") && p("j") < s0 + lit(k))))
      .select(col("doc_id"),
        array_join(transform(col("kept"), p => p("t")), " ").as("clean_text"),
        col("n").cast("long").as("n_tok"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed_tok"))
  }

  /** Oracle mirror of [[dedupSubstr]] ∘ [[withMutatedCopies]] (the mutated
    * clone shares its full n−1-token prefix with its original, so planted
    * long-substring dups exist at any SF). Same semantics, set-logic form:
    * dup starts explode into their k covered positions and surviving
    * tokens anti-join the cover — integer/set logic only, so the two
    * constructions cannot diverge. */
  def dedupSubstrSql: String =
    s"""WITH $augCte,
       |t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM aug),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, u.pos AS pos, u.s AS s FROM (
       |    SELECT doc_id, unnest(
       |      CASE WHEN len(toks) >= $SubstrK
       |           THEN list_transform(generate_series(1, len(toks) - ${SubstrK - 1}),
       |                  i -> struct_pack(pos := i - 1,
       |                         s := array_to_string(list_slice(toks, i, i + ${SubstrK - 1}), ' ')))
       |           ELSE CAST([] AS STRUCT(pos BIGINT, s VARCHAR)[]) END) AS u
       |    FROM t)),
       |dups AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
       |    FROM sh)
       |  WHERE rn > 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + u AS j
       |  FROM dups, (SELECT unnest(generate_series(0, ${SubstrK - 1})) AS u)),
       |tok AS (
       |  SELECT doc_id, u.j AS j, u.t AS t FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |             i -> struct_pack(j := i - 1, t := toks[i]))) AS u
       |    FROM t)),
       |kept AS (
       |  SELECT tok.doc_id, tok.j, tok.t
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j
       |  WHERE cov.j IS NULL),
       |ka AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY j) AS ct,
       |         count(*) AS nk
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, coalesce(ka.ct, '') AS clean_text,
       |       CAST(len(toks) AS BIGINT) AS n_tok,
       |       CAST(len(toks) - coalesce(ka.nk, 0) AS BIGINT) AS n_removed_tok
       |FROM t LEFT JOIN ka USING (doc_id)""".stripMargin

  // =================================================================
  // Domain mixture weighting — the data-mixing stage of a pretraining
  // pipeline: per-domain corpus stats plus temperature-sampled mixture
  // weights (p_i ∝ n_i^α — the multilingual "temperature sampling"
  // rule) and the exact-integer epoch-repetition alternative.
  // =================================================================

  /** Deterministic multi-host URL synthesis with a SKEWED host histogram
    * (host h ∈ 1..97 holds ~2h−1 of every 9409 docs): floor(sqrt(·)) of a
    * uniform residue. IEEE-754 sqrt is correctly rounded, so the JVM and
    * DuckDB agree bit-for-bit on the host assignment. */
  def syntheticHosts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
      concat(lit("https://site"),
        floor(sqrt((col("doc_id") % 9409).cast("double") + lit(1.0))).cast("long").cast("string"),
        lit(".example.org/doc/"), col("doc_id").cast("string")).as("url"))

  final val DomainRepeatCap = 4L

  /** Per-domain stats + mixture weights. α is fixed at 1/2 (temperature
    * T = 2) because sqrt is CORRECTLY ROUNDED on both engines — a general
    * pow(x, α) = exp(α·ln x) is not, so no other α can be oracle-exact.
    * The normalizing sum runs over 1e9-quantized integer shares (the
    * ann_cosine discipline): an integer sum is order-independent across
    * partial aggregation, where a double sum's value depends on addition
    * order. `repeat_factor` = min([[DomainRepeatCap]], ceil(max_n / n_i)) is the exact
    * "repeat rare domains" form. One exchange on the host key (short
    * string, map-side partial aggs); the normalizer is a 2-value
    * broadcast. */
  def domainMix(pages: DataFrame): DataFrame = {
    // host stats feed both the normalizer aggregate and the weight
    // projection: persisted (host-dim-sized), or the corpus-wide groupBy
    // scan runs twice.
    val stats = pages
      .groupBy(regexp_extract(col("url"), "://([^/]+)", 1).as("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("share_q",
        round(sqrt(col("n_docs").cast("double")) * lit(1e9), 0).cast("long"))
      .persist()
    val tot = stats.agg(sum(col("share_q")).as("tot_q"), max(col("n_docs")).as("max_n"))
    stats.crossJoin(broadcast(tot))
      .select(col("host"), col("n_docs"), col("sum_chars"), col("share_q"),
        round(col("share_q").cast("double") / col("tot_q").cast("double"), 6).as("mix_weight"),
        least(ceil(col("max_n").cast("double") / col("n_docs").cast("double")).cast("long"),
          lit(DomainRepeatCap)).as("repeat_factor"))
  }

  /** Oracle mirror of [[domainMix]] ∘ [[syntheticHosts]] — token-for-token
    * arithmetic (sqrt share quantization, integer normalizer, ceil
    * repetition cap). */
  def domainMixSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, n_chars,
       |         'https://site' ||
       |         CAST(CAST(floor(sqrt(CAST(doc_id % 9409 AS DOUBLE) + 1.0)) AS BIGINT) AS VARCHAR) ||
       |         '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |s AS (
       |  SELECT regexp_extract(url, '://([^/]+)', 1) AS host,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |  FROM u GROUP BY 1),
       |q AS (
       |  SELECT *, CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000000.0, 0) AS BIGINT) AS share_q
       |  FROM s),
       |t AS (SELECT CAST(sum(share_q) AS BIGINT) AS tot_q, max(n_docs) AS max_n FROM q)
       |SELECT host, n_docs, sum_chars, share_q,
       |       round(CAST(share_q AS DOUBLE) / CAST(tot_q AS DOUBLE), 6) AS mix_weight,
       |       least(CAST(ceil(CAST(max_n AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS BIGINT), $DomainRepeatCap) AS repeat_factor
       |FROM q, t""".stripMargin

  // =================================================================
  // Positional phrase search — exact multi-token phrase queries over a
  // positional inverted index, the full-text-retrieval complement to
  // bm25TopK's bag-of-words ranking. Instead of the classic n-way
  // postings self-join (n−1 shuffles for an n-token phrase), every
  // occurrence of phrase-slot term tᵢ at position p votes for candidate
  // start p−i, and ONE aggregation on (phrase, doc, start) checks that
  // all n slots voted: within a group each slot maps to exactly one
  // token position (pos = start + slot), so a plain count(*) == n is
  // the adjacency proof — no distinct, no self-join. Scale: the slot
  // dim is query-sized (broadcast); the broadcast hash join drops every
  // non-phrase token at the scan, so only phrase-term occurrences ride
  // the single (phrase, doc, start) shuffle as int triples, map-side
  // combined. Repeated-token phrases ("batch batch batch") fall out
  // naturally — the same occurrence votes once per matching slot, each
  // vote landing in a different start group.
  // =================================================================

  /** Frozen phrase set (doc-vocab terms so matches exist at every SF);
    * includes repeated-token phrases to exercise the slot-vote logic. */
  val SearchPhrases: Seq[String] = Seq(
    "merge join", "table scan", "hash join", "window window",
    "batch batch batch", "table scan merge")

  /** Exact phrase hits per (phrase, document): n_hits = number of start
    * offsets where the full token sequence matches. Mirrored in
    * [[phraseSearchSql]]. */
  def phraseSearch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = SearchPhrases.flatMap { p =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) => (p, i, t, ts.length) }
    }.toDF("phrase", "slot", "term", "n")
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .join(broadcast(slots), Seq("term"))
      .select(col("phrase"), col("doc_id"),
        (col("pos") - col("slot")).as("start"), col("n"))
      .filter(col("start") >= 0)
      .groupBy(col("phrase"), col("doc_id"), col("start"), col("n"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") === col("n"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Oracle mirror of [[phraseSearch]]: 1-based positions/slots (start =
    * pos − slot is the same quantity either way), same start ≥ 0 gate. */
  def phraseSearchSql: String = {
    val values = SearchPhrases.flatMap { p =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) => s"('$p', ${i + 1}, '$t', ${ts.length})" }
    }.mkString(", ")
    s"""WITH slots(phrase, slot, term, n) AS (VALUES $values),
       |t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |post AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
       |                   i -> struct_pack(pos := i, term := t[i]))) AS u
       |    FROM t)),
       |votes AS (
       |  SELECT s.phrase, p.doc_id, p.pos - s.slot AS start, s.n
       |  FROM post p JOIN slots s ON p.term = s.term
       |  WHERE p.pos - s.slot >= 0),
       |grp AS (
       |  SELECT phrase, doc_id, start, n, count(*) AS k
       |  FROM votes GROUP BY 1, 2, 3, 4)
       |SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |FROM grp WHERE k = n GROUP BY 1, 2""".stripMargin
  }

  // =================================================================
  // Zipf rank-frequency fit — the corpus-statistics op of a curation
  // pipeline (a healthy natural-language corpus fits ln f ≈ a + s·ln r
  // with s ≈ −1; crawl spam / boilerplate shows up as a broken fit).
  // One corpus-wide term exchange (map-side combined counts); the
  // rank/fit stage runs on the top-K SURVIVOR frame, bounded by
  // construction, so the un-partitioned rank window is a K-row sort,
  // not a corpus sort. Regression sums run over 1e6-QUANTIZED integer
  // coordinates (the ann_cosine discipline): integer sums are
  // order-independent across partial aggregation where double sums are
  // not, and the closed-form slope/intercept numerators stay EXACT in
  // decimal/HUGEINT until the final double division + round.
  // =================================================================

  final val ZipfK = 1000

  /** Least-squares fit of ln(freq) on ln(rank) over the top-[[ZipfK]] vocabulary.
    * Returns one row: n (terms fitted), slope, intercept. Mirrored in
    * [[zipfFitSql]]. */
  def zipfFit(docs: DataFrame): DataFrame = {
    val freq = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val top = freq.orderBy(col("cnt").desc, col("term").asc).limit(ZipfK)
    val ranked = top.withColumn("rnk", row_number().over(
      Window.orderBy(col("cnt").desc, col("term").asc)))
    val q = ranked.select(
      round(log(col("rnk").cast("double")) * lit(1000000.0), 0).cast("long").as("xq"),
      round(log(col("cnt").cast("double")) * lit(1000000.0), 0).cast("long").as("yq"))
    val s = q.agg(count(lit(1)).as("n"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum(col("xq") * col("yq")).as("sxy"), sum(col("xq") * col("xq")).as("sxx"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val den = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    s.select(col("n"),
      round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast("double")
        / den.cast("double"), 4).as("slope"),
      round((d(col("sy")) * d(col("sxx")) - d(col("sx")) * d(col("sxy"))).cast("double")
        / den.cast("double") / lit(1000000.0), 4).as("intercept"))
  }

  /** Oracle mirror of [[zipfFit]]: DuckDB BIGINT sums widen to HUGEINT
    * (exact), same quantized coordinates, same closed forms. */
  def zipfFitSql: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |f AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
       |top AS (SELECT term, cnt FROM f ORDER BY cnt DESC, term ASC LIMIT $ZipfK),
       |r AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rnk
       |      FROM top),
       |q AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS xq,
       |             CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS yq
       |      FROM r),
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
}
