package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.index.IndexBuild
import graft.ops.TextOps

/** J: incremental index maintenance as Structured Streaming (SURVEY.md §2.J
  * — optional extension; the reference indexes via a back-pressured Node
  * object stream, re-expressed here as micro-batch upserts).
  *
  * A stream of feature rows `(feature_id, phrase, score, geom_wkb)` is
  * turned into grid entries per micro-batch (same derivation as the batch
  * [[IndexBuild.gridEntries]]) and appended to the index table partitioned
  * by batch — an Iceberg table would take these as proper upsert commits;
  * the parquet-append emulation keeps the same idempotence contract via the
  * (batch_id) subdir (reprocessing a batch overwrites, not duplicates).
  */
object StreamingIndex {

  /** The event-time watermark of the stateful streams, the zoom of the
    * per-cell streams, the session gap and the rate window. */
  final val Watermark = "10 minutes"
  final val CellZ = 6
  final val SessionGapMs = 5 * 60 * 1000L
  final val RateWindow = "5 minutes"

  def start(spark: SparkSession, features: DataFrame, z: Int,
            outDir: String, checkpointDir: String): StreamingQuery =
    features.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          IndexBuild.gridEntries(batch, z)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
        }
        ()
      }
      .start()

  /** Streaming forward geocode, stage 1: candidate mentions as pages
    * arrive. A PURE stream-static join (no state, append mode, runs
    * continuously): token windows explode on the stream side, the gazetteer
    * is the static broadcast side — the same plan [[graft.ops.Geocode
    * .mentions]] produces in batch, so every mention the batch path finds
    * appears on the stream the micro-batch its page arrives in. */
  def mentionStream(pages: DataFrame, gaz: DataFrame): DataFrame =
    graft.ops.Geocode.mentions(pages, gaz)

  /** Streaming forward geocode, stage 2: full ranked results per
    * micro-batch. Ranking needs windows over the batch's candidate set
    * (per-doc top-k is not append-streamable — a later row can never demote
    * an emitted one), so the complete forward pipeline runs per micro-batch
    * via foreachBatch with the SAME idempotence contract as the incremental
    * index: output lands in a `batch=<id>` dir, reprocessing overwrites.
    * Correct because forward geocoding is per-doc: a doc's result depends
    * only on its own page row and the static gazetteer, so batch boundaries
    * can't change answers (asserted row-identical to the batch path in
    * IndexSpec). */
  def geocodeStream(pages: DataFrame, gaz: DataFrame,
                    outDir: String, checkpointDir: String): StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Geocode.forward(batch, gaz)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
        }
        ()
      }
      .start()

  /** Streaming REVERSE geocode: points arrive as a stream, features are the
    * static side. A pure stream-static equi-join on the z-cell against the
    * cover-exploded feature frame + exact PIP filter — stateless, append
    * mode, runs CONTINUOUSLY (no foreachBatch needed, unlike the forward
    * path whose per-doc top-k windows force micro-batch ranking): each
    * point's containing features depend only on its own row and the static
    * index, so the plan is [[graft.ops.Geocode.reversePip]] verbatim and
    * row-identical to the batch path (IndexSpec). */
  def reverseStream(points: DataFrame, features: DataFrame, z: Int): DataFrame =
    graft.ops.Geocode.reversePip(points, features, z)

  /** Streaming exact dedup of a page stream: state key is the 32-byte
    * sha2(text) (same key discipline as the batch dedup — the raw document
    * must never be the state/shuffle key), bounded by the event-time
    * watermark so state for long-gone duplicates ages out instead of
    * growing with the 10^12-row stream. */
  def dedupStream(pages: DataFrame): DataFrame =
    pages
      .withColumn("text_sha", sha2(col("text"), 256))
      .withWatermark("warc_ts", Watermark)
      .dropDuplicatesWithinWatermark("text_sha")

  /** Per-cell SESSION windows via flatMapGroupsWithState (the custom-state
    * op the fixed-window aggregations can't express): consecutive page
    * arrivals in a cell belong to one session while gaps stay under
    * [[SessionGapMs]]; a session closes — and emits (cell, start, end, n_pages) —
    * either when a later event arrives past the gap or when the event-time
    * watermark passes end+gap (EventTimeTimeout). State per cell is one
    * {start, end, n} triple, bounded by the live-cell count, aged out by
    * the timeout — never growing with the stream. */
  final case class CellSession(cell: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_pages: Long)
  // NOT private: the state encoder's generated code must see the accessors
  final case class SessState(start: Long, end: Long, n: Long)

  def cellSessions(pages: DataFrame): org.apache.spark.sql.Dataset[CellSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    def toTs(ms: Long) = new java.sql.Timestamp(ms)
    pages
      .withColumn("cell", graft.functions.F.cellAt(lit(CellZ), col("qlon"), col("qlat")))
      .withWatermark("warc_ts", Watermark)
      .select(col("cell").as[Long], col("warc_ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, CellSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (cell, events, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(CellSession(cell, toTs(s.start), toTs(s.end), s.n))
          } else {
            val ts = events.map(_._2.getTime).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[CellSession]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t <= s.end + SessionGapMs =>
                  cur = Some(SessState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed += CellSession(cell, toTs(s.start), toTs(s.end), s.n)
                  cur = Some(SessState(t, t, 1))
                case None =>
                  cur = Some(SessState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + SessionGapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming geofence transition detection — the batch
    * `Queries.geofenceEvents` semantics maintained incrementally with
    * `flatMapGroupsWithState`: state per user is ONE fence id (8 bytes ×
    * live users — bounded, no growth with stream length), each arriving
    * fix resolves its containing fence against the driver-frozen rect dim
    * (min feature_id on overlap, −1 outside, half-open PIP — identical
    * rules) and a transition row (enter/exit/switch) is emitted whenever
    * the fence changes. Within a batch the group sorts by (us, event_id)
    * exactly like the batch lag window; cross-batch order is the source's
    * contract (same as every per-user streaming op here). */
  final case class FenceEvent(user_id: Long, event_id: Long, us: Long,
                              from_f: Long, to_f: Long, kind: String)
  // NOT private: the state encoder's generated code must see the accessor
  final case class FenceState(fence: Long)

  def geofenceStream(events: DataFrame,
                     fences: Array[(Long, Double, Double, Double, Double)])
      : org.apache.spark.sql.Dataset[FenceEvent] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def fenceOf(lon: Double, lat: Double): Long = {
      var best = -1L
      var i = 0
      while (i < fences.length) {
        val (id, w, s, e, n) = fences(i)
        if (lon >= w && lon < e && lat >= s && lat < n && (best == -1L || id < best))
          best = id
        i += 1
      }
      best
    }
    events
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("us").as[Long], col("elon").as[Double], col("elat").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FenceState, FenceEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[FenceState]) =>
          val sorted = rows.toArray.sortBy(r => (r._3, r._2))
          val out = scala.collection.mutable.ArrayBuffer.empty[FenceEvent]
          var cur = state.getOption.map(_.fence)
          sorted.foreach { case (_, id, us, lon, lat) =>
            val f = fenceOf(lon, lat)
            cur match {
              case Some(p) if p != f =>
                val kind = if (p == -1L) "enter" else if (f == -1L) "exit" else "switch"
                out += FenceEvent(user, id, us, p, f, kind)
              case _ => ()
            }
            cur = Some(f)
          }
          cur.foreach(f => state.update(FenceState(f)))
          out.iterator
      }
  }

  /** Streaming per-cell page counts with watermarked event-time windows —
    * the hot-cell statistics (E5) maintained incrementally: arriving pages
    * carry a proximity point, the aggregation keys on its z6 cell. */
  def cellRate(pages: DataFrame): DataFrame =
    pages
      .withColumn("cell", graft.functions.F.cellAt(lit(CellZ), col("qlon"), col("qlat")))
      .withWatermark("warc_ts", Watermark)
      .groupBy(window(col("warc_ts"), RateWindow),
        col("cell"))
      .agg(count(lit(1)).as("pages"))
      .select(col("window.start").as("win_start"), col("cell"), col("pages"))

  /** Streaming corpus curation: the batch `TextOps.curate` gates
    * re-expressed for an unbounded page stream of (url, warc_ts, text).
    * Corpus-derived statistics become STATIC broadcast dimensions — the
    * realistic production shape, where the LM and the eval shingle set are
    * trained/frozen offline:
    *
    *   - quality + repetition: the shared per-row projection
    *     (`TextOps.perRowGates` — identical arithmetic to batch);
    *   - LM perplexity: in-row Σ tf·logp_q via `term_weight_sum` against a
    *     broadcast (term → logp_q) array — no explode, no aggregation,
    *     no state;
    *   - eval decontamination: in-row shingle-hash membership against the
    *     broadcast eval hash set (`long_set_contains`) — zero state;
    *   - URL canonical rep + exact-text rep: the only genuinely cross-doc
    *     gates — chained `dropDuplicatesWithinWatermark` on the canonical
    *     URL and the 32-byte sha2(text) (the batch key discipline: raw
    *     text is never the state key), watermark-aged so state tracks the
    *     dedup horizon, not the stream length. They run LAST (the
    *     CurationJob cheap-to-expensive convention): only content-gate
    *     survivors enter the dedup state, which is what bounds it at
    *     10^12-page scale.
    *
    * SEMANTICS — this is the SEQUENTIAL scrub (`jobs.CurationJob`), not the
    * independent-flag view: `TextOps.curate`'s keeps are always a SUBSET of
    * the stream's keeps, and every extra is a duplicate whose
    * first-occurrence representative was itself scrubbed by another gate
    * (so the duplicate becomes the surviving rep — same relationship
    * CurationJobSpec pins for the batch job; IndexSpec pins it here).
    *
    * Emits the KEPT pages (the scrub's output corpus), append-mode safe. */
  def curateStream(pages: DataFrame,
                   lm: org.apache.spark.broadcast.Broadcast[graft.index.TermStatsData],
                   evalShingles: org.apache.spark.broadcast.Broadcast[Array[Long]]): DataFrame =
    TextOps.perRowGates(pages)
      .filter(col("quality") >= TextOps.QualityMin && col("rep_keep") === 1)
      .withColumn("ptoks", split(col("text"), " "))
      .filter(size(col("ptoks")) > 0)
      .withColumn("nll_mean_q",
        round((-graft.index.TermStats.termWeightSum(col("ptoks"), lm)).cast("double") /
          size(col("ptoks")).cast("long").cast("double")).cast("long"))
      .filter(col("nll_mean_q") <= TextOps.KeepBelowQ)
      .withColumn("n_matched",
        size(filter(graft.functions.F.shingleHashes(col("text"), TextOps.ShingleN),
          h => graft.index.CellIndex.longSetContains(h, evalShingles))).cast("long"))
      .filter(col("n_matched") === 0)
      .drop("ptoks")
      .withColumn("canon_key", TextOps.canonicalUrl(col("url")))
      .withWatermark("warc_ts", Watermark)
      .dropDuplicatesWithinWatermark("canon_key")
      .withColumn("text_sha", sha2(col("text"), 256))
      .dropDuplicatesWithinWatermark("text_sha")
      .drop("canon_key", "text_sha")
}
