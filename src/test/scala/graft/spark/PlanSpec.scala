package graft.spark

import graft.queries.Queries

/** Physical-plan regression guards: the properties that make the pipelines
  * scale must survive refactors (SURVEY.md §4; BENCH.md "known plan
  * properties"). */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val sf = "/root/testdata/sf0.001"

  /** fwd_geocode_bucketed on forwardIndexedFat's shuffled body (with a
    * grid ceiling of 0 the grid is never collected), as fwd_geocode_indexed
    * runs it over the parquet index. */
  private def fatShuffledBucketed =
    graft.ops.Geocode.forwardIndexedFatWith(graft.synth.Synth.docPages(spark, sf),
      Queries.gazGridFatBucketed(spark), 5, false, graft.ops.Geocode.BroadcastDictCeiling, gridCeiling = 0)

  test("fwd_geocode: one map-only stage over the broadcast gazetteer dictionary") {
    val p = plan(Queries.fwdGeocode(spark, "/root/testdata/sf0.001"))
    assert(p.contains("fwd_topk"), p)
    assert(!p.contains("Exchange") && !p.contains("Window") && !p.contains("InMemoryTableScan"),
      s"forward must be map-only:\n$p")
  }

  test("context_chain and Geocoder.reverse: one map-only stage with the context_cover kernel") {
    import graft.synth.Synth
    val sf = "/root/testdata/sf0.001"
    val typed = Seq(
      ("continent", Synth.continentFeatures(spark, sf), 4),
      ("country", Synth.nationFeatures(spark, sf), 6),
      ("place", Synth.custFeatures(spark, sf), 8))
    Seq(
      "context_chain" -> plan(Queries.contextChain(spark, sf)),
      "reverse" -> plan(graft.api.Geocoder.default(spark).reverse(Synth.eventPoints(spark, sf), typed))
    ).foreach { case (what, p) =>
      assert(p.contains("context_cover"), s"$what:\n$p")
      Seq("Exchange", "Join", "Aggregate", "Window", "InMemoryTableScan").foreach { op =>
        assert(!p.contains(op), s"$what must be map-only, found $op:\n$p")
      }
    }
  }

  test("fwd_geocode: stack join shuffles, gazetteer broadcasts, top-k pushed") {
    import graft.ops.Geocode
    val (docs, gaz) = (
      graft.synth.Synth.docPages(spark, "/root/testdata/sf0.001"),
      graft.synth.Synth.gazDf(spark))
    // the staged operators: the equivalence reference (and Geocoder.forward's tail)
    val p = plan(Geocode.rank(Geocode.coalesce2(Geocode.mentions(docs, gaz)), 5))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "per-doc stack join must not be a broadcast")
    assert(p.contains("BroadcastHashJoin"), "gazetteer join should broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k should use WindowGroupLimit pushdown")
    // forward's over-ceiling path: mentions → one doc_id exchange → the
    // stack-and-rank kernel; no stack join, no window
    val s = plan(Geocode.forwardStaged(docs, gaz, 5, dedupe = false))
    assert(s.contains("BroadcastHashJoin") && s.contains("GroupKernel"), s)
    assert(!s.contains("ShuffledHashJoin") && !s.contains("SortMergeJoin") && !s.contains("Window") &&
      !s.contains("InMemoryTableScan"), s"staged forward keeps no stack join or window:\n$s")
    assert("Exchange hashpartitioning\\(doc_id#".r.findAllIn(s).size == 1 &&
      "(?<!Broadcast)Exchange ".r.findAllIn(s).size == 1, s"one doc_id exchange:\n$s")
  }

  test("reverse_pip: single probe pass, broadcast cover index, no extra exchange") {
    val p = plan(Queries.reversePip(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // events scanned exactly once
    assert("events\\.parquet".r.findAllIn(p).size == 1, "probe table scanned more than once")
  }

  test("reverse_compact: probe side never shuffles — ancestor explode + broadcast index") {
    val pFull = plan(Queries.reverseCompact(spark, "/root/testdata/sf0.001"))
    val pIdx = plan(Queries.cellCompact(spark, "/root/testdata/sf0.001"))
    assert(pFull.contains("BroadcastHashJoin"), "compacted index must broadcast")
    // every data exchange belongs to the (dim-sized) index build: the probe
    // side adds ZERO shuffles on top of it (broadcast exchanges excluded)
    def nShuffles(p: String) = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(nShuffles(pFull) <= nShuffles(pIdx) + 1, // +1: idx ⋈ feature-bounds dim
      s"probe side added shuffles: ${nShuffles(pFull)} vs index-build ${nShuffles(pIdx)}")
    assert("events\\.parquet".r.findAllIn(pFull).size == 1, "probe table scanned more than once")
  }

  test("sample_stratified: partial WindowGroupLimit runs BEFORE the stratum exchange") {
    val p = plan(graft.ops.TextOps.stratifiedSample(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
    // Partial mode = each input split keeps <=k rows per stratum pre-shuffle,
    // so 4 fat strata never funnel the corpus onto 4 tasks
    assert(p.contains("WindowGroupLimit"), "rank<=k must plan as WindowGroupLimit")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      s"partial (map-side) group limit missing:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "sampling must scan only (doc_id, lang)")
  }

  test("interval_join: banded equi-join — no nested-loop/cartesian range join") {
    val p = plan(Queries.intervalJoin(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range predicate must ride an equi-join on the time bin")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), "expected a hash/merge equi-join on __bin")
  }

  test("asof_epoch: union trick — no theta/range join anywhere in the plan") {
    val p = plan(Queries.asofEpoch(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must never plan the probe×versions range join")
    assert(p.contains("Window"), "running last-non-null window expected")
  }

  test("documents scan prunes to the referenced columns only") {
    val p = plan(Queries.freqIndex(spark, "/root/testdata/sf0.001"))
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"expected pruned ReadSchema, got:\n${p.take(600)}")
  }

  test("fwd_geocode_indexed: gazetteer is NEVER a name-broadcast — every join shuffles") {
    val p = plan(Queries.fwdGeocodeIndexed(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "indexed forward path must not broadcast the gazetteer/index in any form")
    assert(p.contains("ShuffledHashJoin"), "phrase_id/verify joins should shuffle-hash")
  }

  test("fwd_geocode_fat and fwd_geocode_bucketed: one map-only fwd_topk stage under the broadcast ceiling") {
    Seq("fwd_geocode_fat" -> Queries.fwdGeocodeFat(spark, sf),
      "fwd_geocode_bucketed" -> Queries.fwdGeocodeBucketed(spark, sf)).foreach { case (what, df) =>
      val p = plan(df)
      assert(p.contains("fwd_topk"), s"$what:\n$p")
      Seq("Exchange", "Join", "Sort", "Window", "InMemoryTableScan").foreach { op =>
        assert(!p.contains(op), s"$what must be map-only, found $op:\n$p")
      }
    }
  }

  test("fwd_geocode_indexed: verify is in-row — one match join, the phrase_id pair and doc_id exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Queries.fwdGeocodeIndexed(spark, sf)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    def count(re: String) = re.r.findAllIn(p).size
    assert(count("\\(\\d+\\) ShuffledHashJoin") == 1,
      s"exactly 1 shuffle join (the phrase_id match; no feature verify-join):\n$p")
    val keys = "Arguments: hashpartitioning\\((\\w+)#".r.findAllMatchIn(p).map(_.group(1)).toSeq.sorted
    assert(count("\\(\\d+\\) Exchange") == 3 && keys == Seq("doc_id", "phrase_id", "phrase_id"),
      s"exchanges must be the phrase_id pair and doc_id, got $keys:\n$p")
    // the semi-join reduction runs map-side, under the windows' phrase_id exchange
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val windowSide = phys.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("phrase_id") &&
        e.child.treeString.contains("window_pos") => e.child.treeString
    }
    assert(windowSide.size == 1 && windowSide.head.contains("long_set_contains"),
      s"the phrase prefilter must run before the windows' shuffle:\n$p")
    // stack and rank run in-row after one doc_id exchange: no window, no
    // persisted frame
    assert(!p.contains("Window") && !p.contains("InMemoryTableScan") && p.contains("GroupKernel"),
      s"stack and rank run in-row:\n$p")
    // verify stays a residual predicate, never a join key
    assert("hashpartitioning\\([^)]*phrase#".r.findAllIn(p).isEmpty,
      "phrase must not become a shuffle key (verify is residual)")
  }

  test("fwd_geocode_bucketed: the bucketed index arrives pre-partitioned — one fewer exchange") {
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pBuck = fmt(fatShuffledBucketed)
    val pFat = fmt(Queries.fwdGeocodeIndexed(spark, sf))
    def nExch(p: String) = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(pBuck.contains("SelectedBucketsCount"),
      s"index scan must be a bucketed scan:\n${pBuck.take(800)}")
    assert(nExch(pBuck) == nExch(pFat) - 1,
      s"bucket layout must eliminate exactly the index-side exchange (${nExch(pBuck)} vs ${nExch(pFat)})")
    // row-identity with the parquet fat path (both share fwd_geocode's oracle,
    // but the bucketed catalog table never reaches the DuckDB gate directly)
    val a = fatShuffledBucketed.collect().toSet
    val b = Queries.fwdGeocodeIndexed(spark, sf).collect().toSet
    assert(a == b, "bucketed path must be row-identical to the fat parquet path")
  }

  test("dbscan: salted self-join keys the exchange on (ck, _salt); unsalted is shuffle-hash on ck") {
    import org.apache.spark.sql.functions._
    val pts = spark.range(300).toDF("id")
      .withColumn("xq", (col("id") * 9973) % 300000 - 150000)
      .withColumn("yq", (col("id") * 104729) % 150000 - 75000)
    // (BroadcastHashJoin appears legitimately downstream for the dim-sized
    // cluster-label attach — only the eps-grid SELF-join must shuffle)
    val plain = plan(Queries.dbscanOf(pts, n = 300L))
    assert(plain.contains("ShuffledHashJoin"),
      "eps-grid self-join must stay a shuffle-hash join (never broadcast a corpus-sized side)")
    assert(!plain.contains("_salt"), "unsalted path must not carry a salt column")
    val salted = plan(Queries.dbscanOf(pts, n = 300L, salt = 4, hotThreshold = 2L))
    assert(salted.contains("_salt"),
      "salted path must key the join exchange on the salt column")
    assert(salted.contains("ShuffledHashJoin"),
      "salting must not demote the self-join from shuffle-hash")
  }

  test("fuzzy joins are deletion-blocked equi-joins, not nested loops") {
    val pm = plan(Queries.fuzzyMatch(spark, "/root/testdata/sf0.001"))
    val pn = plan(Queries.fuzzyMentions(spark, "/root/testdata/sf0.001"))
    for (p <- Seq(pm, pn)) {
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        "fuzzy match must stay an equi-join on deletion keys")
      assert(p.contains("BroadcastHashJoin"), "deletion-key dictionary join should hash")
    }
  }

  test("lang_fallback is an equi-join on (lang, phrase), not a θ-contains join") {
    val p = plan(Queries.langFallback(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("fwd_geocode_idf: idf sums are in-row (broadcast TermStats), not freq joins") {
    val df = Queries.fwdGeocodeIdf(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("term_weight_sum"), "broadcast freq-cache expression expected")
    // the only joins are the broadcast gazetteer join and the stack join —
    // no shuffle round-trips for per-term idf lookups
    assert(!p.contains("SortMergeJoin"))
    assert("ShuffledHashJoin".r.findAllIn(p).size == 1, "only the stack join may shuffle")
  }

  test("fwd_geocode_multi: chain pool joins shuffle on doc_id, never broadcast; top-k pushed") {
    val p = plan(Queries.fwdGeocodeMulti(spark, "/root/testdata/sf0.001"))
    assert(p.contains("ShuffledHashJoin"), "pool joins must shuffle-hash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "N-level coalesce must stay an equi-join on doc_id with residual cell predicates")
    assert(p.contains("WindowGroupLimit"), "final top-k should push WindowGroupLimit")
  }

  test("fwd_geocode_multi_indexed: no broadcast join anywhere — index match and pool joins all shuffle") {
    val p = plan(Queries.fwdGeocodeMultiIndexed(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "the at-scale N-level path must never broadcast the index or the chain pool")
    assert(p.contains("ShuffledHashJoin"), "match/pool joins must shuffle-hash")
    assert(p.contains("long_set_contains"),
      "windows must be pre-filtered by the broadcast phrase-id set before the exchange")
  }

  test("fwd_autocomplete_fuzzy stays deletion-key blocked (no nested loop)") {
    val p = plan(Queries.fwdAutocompleteFuzzy(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "prefix deletion-key dictionary join should hash")
  }

  test("fwd_geocode_indexed prunes windows with the broadcast phrase-id set pre-shuffle") {
    val p = plan(Queries.fwdGeocodeIndexed(spark, "/root/testdata/sf0.001"))
    assert(p.contains("long_set_contains"),
      "semi-join reduction filter must run before the grid shuffle")
  }

  test("ngram_jaccard candidates come from the prefix-token equi-join") {
    import graft.ops.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(TextOps.ngramJaccard(TextOps.withMutatedCopies(docs)))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("lang_id_ngram: pure per-row map — zero exchanges, no join, no window") {
    import graft.ops.TextOps
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = fmt(TextOps.langIdNgram(docs))
    assert(!p.contains("Join"), "frozen-profile scorer must not join")
    assert(!p.contains(") Window"), "argmax must fold in-row, not via a window")
    val nExch = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(nExch == 0, s"expected zero exchanges (in-row scorer); got $nExch:\n$p")
    // the non-cheap scorer evaluates ONCE per row, behind a Generator —
    // scalar forms got re-substituted per reference by pushdown/collapse
    // (a nested argmax CASE chain reached 511 copies of the scorer)
    val nScorer = "lang_ngram_best".r.findAllIn(p).size
    assert(nScorer <= 2, s"scorer duplicated by project collapse ($nScorer):\n$p")
  }

  test("corpus_curate: fused per-row gates, skinny exchanges, text never a shuffle payload") {
    import graft.ops.TextOps
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // live caches from other suites substitute InMemoryRelations and shift
    // the exchange count (9 vs 8 observed) — plan against a cold catalog
    spark.catalog.clearCache()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = fmt(TextOps.curate(TextOps.curationFixture(docs)))
    // an inline partitionBy(sha2(text)) evaluates the key AT the window, so
    // the exchange ships the full corpus text; the pre-projected hash column
    // ships 32 bytes — the key must never appear as an inline expression
    assert(!p.contains("hashpartitioning(sha2("),
      "exact-rep exchange must be keyed on the PRE-PROJECTED hash column")
    // (BroadcastNestedLoopJoin IS expected here: the 1-row broadcast(tot)
    // normalizer cross join in lmPerplexity plans as one — allowed; an
    // unbroadcast cartesian is not)
    assert(!p.contains("CartesianProduct"))
    // 9 exchanges total: tf agg + LM unigram-model agg + ppl doc agg, url
    // window, exact-rep hash window, decontam shingle agg, and the doc_id
    // flag-join exchanges. The LM model moved from a term-keyed WINDOW (one
    // exchange, but a hot stopword's full posting list buffered in ONE
    // task) to a map-side-combined groupBy + broadcast join-back: +1
    // exchange in the COUNT, but its wire volume is the vocab-sized
    // combined partials, not the posting rows — the skew-safe trade this
    // repo's window-vs-join-back rule prescribes for Zipf keys.
    val nExch = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(nExch <= 9, s"curate exchange count regressed: $nExch > 9")
  }

  test("poly_overlap: one cell exchange per side, no pair-dedup aggregate, never broadcast") {
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    spark.catalog.clearCache()
    val p = fmt(Queries.polyOverlap(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "cover sides are corpus-sized — the cell join must shuffle")
    // the reference-point filter IS the dedup: any distinct/group-by on the
    // output pairs would be a full extra exchange at corpus scale
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate")
      && !p.contains("ObjectHashAggregate") && !p.contains(") Window"),
      "pair dedup must be the reference-point filter, not an aggregate")
    val nExch = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(nExch == 2, s"expected exactly the two cell-keyed exchanges; got $nExch")
  }

  test("line/substr dedup: corpus-sized winner sides never broadcast") {
    import graft.ops.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // winners are per-line / per-shingle data (grow with the corpus); under
    // the cached explode Catalyst would happily broadcast them — the hint
    // must pin the shuffle-hash plan
    val pl = plan(TextOps.lineDedup(TextOps.withLines(docs)))
    assert(!pl.contains("BroadcastHashJoin"),
      s"line winners must not broadcast:\n$pl")
    val ps = plan(TextOps.dedupSubstr(TextOps.withMutatedCopies(docs)))
    assert(!ps.contains("BroadcastHashJoin"),
      s"shingle winners must not broadcast:\n$ps")
  }

  test("embed_kmeans: centroid dims broadcast, corpus never nested-loops, sizes join back broadcast") {
    import graft.ops.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(Ann.kmeansAssign(emb, nList0 = 16))
    // the only acceptable cross join is corpus × broadcast nList-row
    // centroid dim; a CartesianProduct would shuffle the corpus per round
    assert(!p.contains("CartesianProduct"),
      s"centroid cross-join must broadcast, not cartesian:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "final assignment must join the broadcast centroid dim")
    // cluster sizes attach by broadcast join-back (cid is skew-prone);
    // a cid-keyed Window would funnel a hot cluster through one task
    assert(!("Window \\[count".r.findFirstIn(p).isDefined),
      "csize must not be a cid window")
  }

  test("semantic_dedup: intra-cluster pair join shuffles on cid, anti side skinny") {
    import graft.ops.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(Ann.semanticDedup(emb, nList0 = 16))
    assert(!p.contains("CartesianProduct"), "pair blocking must ride the cid equi-join")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "cells self-join is corpus-sized on both sides — it must shuffle")
  }

  test("GraftSession leaves master and partitions to a configured launcher") {
    import org.apache.spark.SparkConf
    val launched = new SparkConf(false).set("spark.master", "local[2]")
      .set("spark.sql.shuffle.partitions", "7")
    val set = graft.GraftSession.options(launched, 3, 3).toMap
    assert(!set.contains("spark.master") && !set.contains("spark.sql.shuffle.partitions"), set)
    val bare = graft.GraftSession.options(new SparkConf(false), 3, 3).toMap
    assert(bare("spark.master") == "local[3]" && bare("spark.sql.shuffle.partitions") == "3", bare)
    Seq(set, bare).foreach { o =>
      assert(o("spark.sql.session.timeZone") == "UTC" && o("spark.ui.enabled") == "false", o)
    }
  }

  /** `p` without what AQE decides at run time: the final plan of every
    * adaptive plan in it (its query stages and the join sides it picked
    * on their sizes) is dropped for the initial plan printed after it, and
    * the codegen-stage and query-stage numbers, which follow the order the
    * stages finish in, are blanked. Expression and plan ids, which differ
    * between any two plannings, are blanked too. */
  private def initialPlans(p: String): String = {
    var initial = Option.empty[String] // the line that ends the final plan being dropped
    p.split("\n").filter { l =>
      initial match {
        case Some(end) => if (l == end) { initial = None; true } else false
        case None =>
          val at = l.indexOf("+- == Final Plan ==")
          if (at >= 0) initial = Some(l.substring(0, at) + "+- == Initial Plan ==")
          at < 0
      }
    }.mkString("\n").replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*(n)").replaceAll("QueryStage \\d+", "QueryStage n")
  }

  test("initialPlans keeps each adaptive plan's initial plan, blind to stage numbers and join sides") {
    def aqe(pre: String, stage: Int, side: String) = Seq(
      s"${pre}AdaptiveSparkPlan isFinalPlan=true",
      s"${pre}+- == Final Plan ==",
      s"${pre}   BroadcastHashJoin [a#${stage}L], [b#9], Inner, $side",
      s"${pre}   :- *(${stage + 1}) Project [a#$stage]",
      s"${pre}   +- BroadcastQueryStage $stage",
      s"${pre}+- == Initial Plan ==",
      s"${pre}   SortMergeJoin [a#1], [b#2], Inner")
    val one = ("InMemoryTableScan [a#1]" +: aqe("   ", 2, "BuildLeft")).mkString("\n")
    val two = ("InMemoryTableScan [a#4]" +: aqe("   ", 3, "BuildRight")).mkString("\n")
    assert(initialPlans(one) == initialPlans(two))
    assert(initialPlans(one) == Seq("InMemoryTableScan [a#]", "   AdaptiveSparkPlan isFinalPlan=true",
      "   +- == Initial Plan ==", "      SortMergeJoin [a#], [b#], Inner").mkString("\n"))
    assert(initialPlans(one.replace("SortMergeJoin", "ShuffledHashJoin")) != initialPlans(two))
  }

  test("the query loop clears the cache after each query: dbscan plans as it does alone") {
    val cache = spark.sharedState.cacheManager
    def plans(names: String*): Map[String, String] = {
      val got = graft.SparkEntry.eachQuery(spark, sf, names) { (_, df) =>
        val d = df()
        val p = initialPlans(plan(d))
        d.collect()
        p
      }
      assert(cache.isEmpty, s"cache left after ${names.mkString(", ")}")
      got.toMap
    }
    spark.catalog.clearCache()
    val alone = plans("dbscan")("dbscan")
    assert(plans("ripley_k").contains("ripley_k"))
    assert(plans("ripley_k", "dbscan")("dbscan") == alone)
  }
}
