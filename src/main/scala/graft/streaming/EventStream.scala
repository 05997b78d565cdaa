package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface (SURVEY §2.6): stream → transform → sink,
  * watermarked windowed aggregation, and stateful sessionization.
  *
  * The same event schema as the batch `events` table, so every batch
  * operator (validator, transformer, text analysis) lifts onto the stream
  * unchanged — that is the Spark-native analogue of chewdata's "steps are
  * connected by async channels".
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  final case class SessionSummary(user_id: Long, n_events: Int, n_sessions: Int)

  /** Exact event-time microseconds: Timestamp.getTime truncates to
    * milliseconds, so an operator comparing getTime against a batch twin
    * that compares full timestamps diverges on sub-millisecond data —
    * rebuild micros from the seconds part plus the nanos field. */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** File-based stream over a directory of JSON events. */
  def readJsonStream(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.readStream.schema(schema).json(path)
  }

  /** Watermarked tumbling-window aggregate (the streaming shape of
    * DataOps.qEventWindow). */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stateful sessionization with mapGroupsWithState: counts sessions per
    * user with a 30-minute inactivity gap, state kept per user key. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMs: Long = 30L * 60 * 1000): org.apache.spark.sql.Dataset[SessionSummary] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Int, Int), SessionSummary](GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[(Long, Int, Int)]) =>
          val (lastTs0, nEvents0, nSessions0) =
            state.getOption.getOrElse((Long.MinValue, 0, 0))
          var lastTs = lastTs0; var nEvents = nEvents0; var nSessions = nSessions0
          it.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val t = micros(e.ts)
            if (lastTs == Long.MinValue || t - lastTs > gapMs * 1000L) nSessions += 1
            nEvents += 1
            lastTs = t
          }
          state.update((lastTs, nEvents, nSessions))
          SessionSummary(userId, nEvents, nSessions)
      }
  }

  /** Per-user funnel progress as a stream: state is just (reached stage,
    * timestamp of its completion) — O(1) per user however long the stream
    * runs, the streaming twin of [[graft.queries.DataOps.funnelStages]].
    * Each micro-batch's events replay in event-time order; an event
    * advances the funnel when it matches the NEXT stage strictly after
    * the previous stage's timestamp — identical greedy-earliest semantics
    * to the batch chain, so on ordered replay the depths agree exactly
    * (spec-pinned). Emits the user's depth after every batch touching it
    * (update-mode output). */
  final case class FunnelProgress(user_id: Long, depth: Int)
  def funnelStream(spark: SparkSession, events: DataFrame,
                   stages: Seq[String]): org.apache.spark.sql.Dataset[FunnelProgress] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Int, Long), FunnelProgress](GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[(Int, Long)]) =>
          var (stage, tPrev) = state.getOption.getOrElse((0, Long.MinValue))
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (stage < stages.length && e.event_type == stages(stage) &&
                (stage == 0 || micros(e.ts) > tPrev)) {
              tPrev = micros(e.ts)
              stage += 1
            }
          }
          state.update((stage, tPrev))
          FunnelProgress(userId, stage)
      }
  }

  /** Watermarked stream-stream inner join: each click pairs with the views
    * from the same user in the preceding hour. The time-range condition +
    * watermarks bound both sides' join state, so state size is
    * O(events-per-hour), not O(stream) — the shape that holds up on an
    * unbounded 100 TB/day firehose. */
  def clickViewJoin(events: DataFrame,
                    watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    clicks.join(views,
      expr("c_user = v_user AND v_ts <= c_ts AND v_ts >= c_ts - INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** Watermark-bounded streaming dedup: duplicate event_ids arriving
    * within the watermark horizon collapse to the first occurrence, and
    * dedup state older than the horizon is evicted. State is therefore
    * bounded by the horizon's event volume, not the stream's history —
    * the only exact-dedup contract that holds on an unbounded firehose
    * (dropDuplicates without a watermark grows state forever). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "2 hours",
                           keys: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Write a stream to parquet with checkpointing. */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", path).start()

  /** Streaming incremental dedup against the PERSISTED fingerprint index
    * (composes §2.6 with operator 44b): each micro-batch anti-joins the
    * bucketed index, survivors sink through `write` and their fingerprints
    * fold into the index — so cross-batch duplicates collapse against the
    * WHOLE corpus history, not just the watermark horizon
    * ([[dedupWithinWatermark]]'s bound), while state lives in the index
    * table instead of the state store (one fingerprint per distinct doc —
    * the only shape that holds when history is 100 TB). Exactly-once
    * caveat: a replayed micro-batch whose fingerprints already committed
    * dedups against itself and sinks nothing — replays are idempotent. */
  def dedupStreamAgainstIndex(stream: DataFrame, indexTable: String,
                              indexBuckets: Int, idCol: String, keyCol: String,
                              checkpoint: String)(
                              write: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions.col
        // each batch's checkpoint is released once consumed: a stream
        // runs unboundedly, so anything left in the block manager per
        // batch is a leak that grows with stream lifetime (the
        // StreamingSpec 3-batch ballast audit pins this)
        // The checkpoint is taken BEFORE the index write: the write
        // invalidates caches referencing the index, and a recompute would
        // dedup the batch against its own just-appended fingerprints.
        graft.operators.CacheOps.holding { h =>
          import graft.operators.Dedup
          val fresh = !spark.catalog.tableExists(indexTable)
          val kept = h.checkpoint(
            if (fresh) Dedup.exact(batch, idCol, col(keyCol))
            else Dedup.dedupAgainstIndex(batch, indexTable, idCol, col(keyCol)))
          if (fresh) Dedup.buildFingerprintIndex(kept, indexTable, indexBuckets, idCol, col(keyCol))
          else Dedup.appendToIndex(kept, indexTable, indexBuckets, idCol, col(keyCol))
          write(kept)
        }
      }.start()

  /** Streaming first-touch attribution — the arrival-time twin of the
    * batch gate (graft.queries.DataOps.qAttribution): per user the state
    * is three longs (last event time, session counter, first view of the
    * current session) — O(1) forever; a gap > `gapMicros` starts a new
    * session and clears the first-view anchor; each purchase emits its
    * session's first view the moment it arrives. On ordered replay the
    * (purchase → first view) pairs equal the batch window chain exactly
    * (spec-pinned). */
  final case class Attribution(event_id: Long, user_id: Long, sess: Long,
                               first_view_id: Long)
  def attributionStream(spark: SparkSession, events: DataFrame,
                        gapMicros: Long = 1800L * 1000000L)
      : org.apache.spark.sql.Dataset[Attribution] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (u, it, state: GroupState[(Long, Long, Long)]) =>
          var (lastTs, sess, firstView) =
            state.getOption.getOrElse((Long.MinValue, 0L, -1L))
          val out = scala.collection.mutable.ArrayBuffer[Attribution]()
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (lastTs == Long.MinValue || t - lastTs > gapMicros) {
              sess += 1L; firstView = -1L
            }
            lastTs = t
            if (e.event_type == "view" && firstView < 0L) firstView = e.event_id
            if (e.event_type == "purchase")
              out += Attribution(e.event_id, u, sess, firstView)
          }
          state.update((lastTs, sess, firstView))
          out.iterator
      }
  }

  /** Streaming volume-anomaly scoring — the arrival-time twin of the
    * batch gate (graft.queries.DataOps.qEventAnomaly): per event type,
    * each COMPLETED week's count is z-scored against the running exact
    * moments (m, Σn, Σn²) of the weeks closed BEFORE it, then folded in.
    * State per type is five longs — O(1) however long the stream runs.
    * Weeks close on rollover (an event from a later week arrives), so the
    * current partial week never scores; z uses the same exact-integer
    * algebra as the batch z-score (null until two prior weeks exist).
    * Emission on ordered replay is deterministic (spec-pinned). */
  final case class WeekAnomaly(event_type: String, week_start_us: Long,
                               n: Long, z: Option[Double])
  def weeklyAnomalyStream(spark: SparkSession, events: DataFrame)
      : org.apache.spark.sql.Dataset[WeekAnomaly] = {
    import spark.implicits._
    val weekUs = 7L * 24 * 3600 * 1000000L
    // ISO week alignment: epoch (1970-01-01) was a Thursday; shift by
    // 3 days so buckets start on Mondays like date_trunc('week')
    val mondayShiftUs = 3L * 24 * 3600 * 1000000L
    events.as[Event]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long), WeekAnomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tpe, it, state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (week, n, m, s1, s2) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[WeekAnomaly]()
          def close(): Unit = if (week != Long.MinValue) {
            val z =
              if (m >= 2) {
                val den = math.sqrt((m * s2 - s1 * s1).toDouble)
                if (den > 0.0) Some((m * n - s1).toDouble / den) else None
              } else None
            out += WeekAnomaly(tpe, week * weekUs - mondayShiftUs, n, z)
            m += 1; s1 += n; s2 += n * n
          }
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val w = Math.floorDiv(micros(e.ts) + mondayShiftUs, weekUs)
            if (week == Long.MinValue) { week = w; n = 0L }
            else if (w > week) { close(); week = w; n = 0L }
            // w < week: a straggler from an already-closed week — dropped
            // (the implicit watermark of close-on-rollover)
            if (w >= week) n += 1
          }
          state.update((week, n, m, s1, s2))
          out.iterator
      }
  }
}
