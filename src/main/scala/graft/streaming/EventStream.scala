package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/**
 * Structured Streaming extensions (builder-prompt north star; the
 * reference itself has NO streaming surface — SURVEY §2.9 — so this is
 * additive capability, not parity).
 *
 * Three canonical shapes a training-data ingest pipeline needs:
 *  1. watermarked tumbling-window aggregation (late data dropped after
 *     the watermark, state bounded — required for unbounded runs);
 *  2. gap-based sessionization via `flatMapGroupsWithState` (custom
 *     per-key state closed by `EventTimeTimeout` against the watermark);
 *  3. streaming dedup (`dropDuplicates` within the watermark horizon).
 *
 * Scale notes: state is partitioned by the grouping key across executors;
 * the watermark bounds state size, which is what makes 100 TB/day feeds
 * survivable. File sources give exactly-once with checkpointing.
 */
object EventStream {

  /** Schema-locked streaming read of an events directory.
    * `maxFilesPerTrigger` caps files per micro-batch (None = all
    * available) — replay harnesses use 1 to force multi-batch runs, so
    * cross-batch state (dedup horizon, watermark advancement) actually
    * exercises. */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(path)
  }

  /** Tumbling 5-minute windows per event type with a 10-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-user gap sessions through the NATIVE `session_window`
    * aggregate under a watermark — the built-in-first counterpart of
    * [[sessionize]]'s custom flatMapGroupsWithState (the
    * [[graft.ops.Sessions.sessionizeNative]] pairing, in streaming
    * form). In Append mode a session emits exactly once, when the
    * watermark passes its merged window end (= last event + gap);
    * unlike the custom form, a NEWER same-user event does NOT flush
    * the prior session early — emission is purely watermark-gated, so
    * a bounded replay's sink holds exactly the sessions whose window
    * end the FINAL watermark (max event time ms-floored − delay,
    * single input side) passed. Session merge is on INCLUSIVE window
    * overlap (the measured x135 contract). */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(gapMinutes >= 1, s"gapMinutes must be >= 1, got $gapMinutes")
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("__sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("__sw.end").as("session_end_w"),
        col("n_events"), col("total_value"))
  }

  /** Streaming dedup on event_id within the watermark horizon.
    * `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`: with
    * only `event_id` as the key (no event-time column in the subset)
    * plain dropDuplicates never evicts state — every id ever seen is
    * retained until executors OOM (r04 review). The WithinWatermark
    * variant expires each key once the watermark passes its event time,
    * which is the documented state bound above. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(count: Long, total: Double, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Gap-based sessionization: per-user state carried across
    * micro-batches with `flatMapGroupsWithState`; a session CLOSES (and
    * is emitted) when no event arrives for `gapMs` of event time —
    * within a batch by comparing sorted timestamps, across batches via
    * `EventTimeTimeout` once the watermark passes `lastTs + gapMs`.
    * State size is bounded by (active users × one aggregate), and the
    * watermark guarantees every session eventually closes — the property
    * that makes an unbounded 100 TB/day feed survivable. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.count, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var s = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (s.count > 0 && t - s.lastTs > gapMs) {
                closed ::= SessionOut(uid, s.count, s.total)
                s = SessionState(0L, 0.0, 0L)
              }
              s = SessionState(s.count + 1, s.total + e.value, math.max(s.lastTs, t))
            }
            state.update(s)
            // must stay above the current watermark or Spark rejects it
            state.setTimeoutTimestamp(
              math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs + 1))
            closed.reverseIterator
          }
        }).toDF()
  }

  /**
   * Stream-static near-dup detection — the ingest-time filter of a
   * training-data pipeline: each incoming `(doc_id, ts, text)` document
   * is checked against a STATIC corpus by MinHash band keys.
   *
   *  - The corpus side is computed ONCE (shingle hashes + banded keys,
   *    both tight-loop expressions) and persisted; at full scale pass a
   *    corpus read from the `Dedup` parquet checkpoint artifacts.
   *  - The band-key lookup and the verification lookup are STATELESS
   *    stream-static equi-joins: the (huge) corpus side carries only
   *    24-byte (corpus_id, band_id, band_key) rows; the (small)
   *    micro-batch side carries its shingle arrays through — the right
   *    asymmetry when a 100 TB corpus meets a bounded ingest rate.
   *  - A pair colliding in several bands would emit once per band;
   *    `dropDuplicatesWithinWatermark` collapses them with state bounded
   *    by the watermark horizon — the only stateful operator here.
   *
   * Returns (doc_id, ts, corpus_id, jaccard) with jaccard ≥ minJaccard.
   */
  def nearDupsAgainstCorpus(stream: DataFrame, corpus: DataFrame,
      numPerm: Int = 64, bands: Int = 16, minJaccard: Double = 0.7,
      watermark: String = "10 minutes"): DataFrame =
    nearDupsAgainstCorpusCached(stream, corpus, numPerm, bands, minJaccard,
      watermark)._1

  /** As [[nearDupsAgainstCorpus]], but also hands back the two persisted
    * corpus-side frames so a bounded-replay caller (the x61 oracle row,
    * which the bench runs twice per session) can release them after
    * stopping the query — repeated invocations must not accumulate
    * executor-storage residue (the minhashLshCached pattern). */
  private[graft] def nearDupsAgainstCorpusCached(stream: DataFrame,
      corpus: DataFrame, numPerm: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7,
      watermark: String = "10 minutes"): (DataFrame, Seq[DataFrame]) = {
    import graft.functions.TextHashExprs
    import graft.ops.{Dedup, Text}
    val spark = corpus.sparkSession

    // persist(), NOT localCheckpoint: a localCheckpoint truncates the
    // lineage, so an executor lost mid-query would leave the static side
    // unrecomputable and fail every later micro-batch — fatal for a
    // long-running ingest query. persist recomputes from lineage. The
    // two cache entries live for the query's lifetime; unpersist them
    // after stopping the query if the session lives on.
    val pre = corpus.select(col("doc_id").as("corpus_id"),
        TextHashExprs.tokenTrigramHashes(spark, col("text")).as("corpus_sh"))
      .persist()
    val corpusBands = pre.select(col("corpus_id"),
        posexplode(Dedup.bandKeys(
          TextHashExprs.minhashFromHashes(spark, col("corpus_sh"), numPerm),
          numPerm, bands)).as(Seq("band_id", "band_key")))
      .persist()

    val streamBands = stream
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        TextHashExprs.tokenTrigramHashes(spark, col("text")).as("sh"))
      .select(col("doc_id"), col("ts"), col("sh"),
        posexplode(Dedup.bandKeys(
          TextHashExprs.minhashFromHashes(spark, col("sh"), numPerm),
          numPerm, bands)).as(Seq("band_id", "band_key")))

    val out = streamBands
      .join(corpusBands, Seq("band_id", "band_key"))
      .join(pre, "corpus_id")
      .select(col("doc_id"), col("ts"), col("corpus_id"),
        round(Text.jaccard(col("sh"), col("corpus_sh")), 9).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
    (out, Seq(pre, corpusBands))
  }

  /** Stream-stream interval join — the attribution shape: every
    * `right`-stream event pairs with same-user `left`-stream events at
    * most `maxGapMinutes` BEFORE it (`l_ts <= r_ts <= l_ts + gap`).
    * Both inputs are real streams, so this plans as Structured
    * Streaming's symmetric state-store hash join: each side buffers
    * rows in keyed state and probes the other side's state as batches
    * arrive. Inner-join matches emit immediately (no watermark wait);
    * the watermark + the time-range condition bound the STATE — a left
    * row is evicted once the watermark passes `l_ts + gap`, a right
    * row once it passes `r_ts`, which is what makes an unbounded feed
    * survivable at 100 TB/day. Rows with a NULL timestamp or user are
    * dropped up front (they could never match; NULL event time must
    * not reach join state). Emits `(l_id, r_id, user_id, gap_us)`
    * with the gap microsecond-exact.
    *
    * Replay caveat (how x90 drives it): with time-SORTED staged files
    * and `maxFilesPerTrigger = 1`, the watermark after each batch
    * trails every future batch's matchable left rows, so the drained
    * result equals the batch join exactly — the eviction boundary
    * `l_ts < wm − gap` only removes rows whose matches would be
    * watermark-late anyway. */
  def correlate(left: DataFrame, right: DataFrame,
      leftType: String, rightType: String, maxGapMinutes: Int,
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    require(maxGapMinutes >= 1, s"maxGapMinutes must be >= 1, got $maxGapMinutes")
    require(Seq("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    def side(ev: DataFrame, tpe: String, p: String): DataFrame = ev
      .filter(col("event_type") === tpe &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", watermarkDelay)
    val l = side(left, leftType, "l")
    val r = side(right, rightType, "r")
    // left_outer adds the never-converted rows: an unmatched left row
    // emits null-joined ONLY once the watermark passes `l_ts + gap`
    // (no future right row could match it) — so with a bounded replay
    // the sink holds matches plus exactly the unmatched lefts whose
    // window the final watermark closed; lefts near the end of input
    // stay in state and never emit, the same closed-subset contract as
    // the x46 Append windows. The GLOBAL watermark is the MIN over the
    // two sides' operators (each tracks its own post-filter max event
    // time, floored to ms) — when one event type stops hours before
    // the other, the earlier side's maximum gates every eviction
    // (r09 x94 finding; the oracle restates min, not max-of-all).
    l.join(r,
        col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL '$maxGapMinutes' MINUTE"),
        joinType)
      .select(col("l_id"), col("r_id"), col("l_user").as("user_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("gap_us"))
  }

  /** Drive a streaming frame to a named in-memory sink until input drains
    * (the synchronous local test harness for streaming operators).
    *
    * State partitions cap at `statePartitions` FOR THE REPLAY ONLY
    * (conf restored after the drain): a stateful query commits every
    * state store on every micro-batch, so per-batch overhead scales
    * with the shuffle-partition count — at local[32] the stream-stream
    * join replay spends ~7 s in 128 store commits for ~2k state rows.
    * The cap default is 4 (OPTIMIZATION_r11.md §5, measured on the
    * x94 left-outer replay, 3 rounds
    * per config in BOTH warmup orders to cancel JIT bias: descending
    * order read 8/4/2 ≈ 15.1–19.6 / 8.5–13.9 / 7.9–9.6 s, ascending
    * read 2/4/8 ≈ 5.7–8.0 / 6.5–8.2 / 7.1–27.3 s — 2 and 4 are within
    * noise of each other and both clearly beat 8, so the commit COUNT,
    * not state size, is the floor for this ~2k-row replay state; 4
    * keeps more per-batch compute parallelism than 2 for the 100k-row
    * micro-batches. Because the cap is min(current, cap), every bench
    * topology gets the SAME state partitioning, which also removes a
    * per-core-count confound from the driver's scaling measurement.
    * Results are partitioning-independent (pinned by the r11 four-axis
    * sweep incl. the hostile-topology run); a production caller starts
    * queries under its own conf and never passes through here.
    *
    * Concurrency contract (ADVICE r07): the cap temporarily mutates the
    * SESSION-global `spark.sql.shuffle.partitions` (a streaming frame is
    * bound to its session — the conf cannot be scoped per-query, and the
    * stateful operators pin the value in the checkpoint at first batch).
    * Concurrent `runToMemory` calls serialize on a lock so they cannot
    * race each other's restore; OTHER work started on the same session
    * mid-replay may still observe the cap — this is a single-threaded
    * test harness, not a production entry point. */
  private val replayLock = new Object
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append,
      statePartitions: Int = 4): StreamingQuery = replayLock.synchronized {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val capped = math.min(prev.toInt, statePartitions).toString
    spark.conf.set("spark.sql.shuffle.partitions", capped)
    try runToMemoryStart(df, name, mode)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def runToMemoryStart(df: DataFrame, name: String,
      mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      // AvailableNow: drain everything then stop. A ProcessingTime tick
      // is wrong in BOTH directions for a bounded replay — a 1 s tick
      // quantizes drain time by whole ticks (the same query measured
      // 2.1 s or 8.4 s run-to-run on tick alignment), and a fast tick
      // floods stateful queries with empty micro-batches whose
      // per-partition state-store commits dominate (50 ms tick: 3-4×
      // slower on the join replays). AvailableNow still respects
      // maxFilesPerTrigger (multi-batch state handoff exercises) and
      // runs the final watermark-advancing batch before terminating,
      // which the Append/outer-join rows depend on.
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
