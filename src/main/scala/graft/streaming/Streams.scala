package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Structured Streaming counterparts of the batch event ops.
  *
  * `readStream` over the same parquet directory drives the smoke path
  * (ScalaTest uses the memory sink + processAllAvailable); in
  * production the source would be Kafka/files with the identical
  * transform graph — that symmetry (same DataFrame ops batch and
  * stream) is the point of building on Structured Streaming.
  */
object Streams {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionSummary(user_id: Long, n_sessions: Int, n_events: Long)

  /** Streaming source over the events table, adapting to the same two
    * physical `ts` generations as Tables.events: TIMESTAMP(NANOS)
    * (readable only as long via the legacy conf → div 1000 to micros)
    * and native TIMESTAMP(MICROS) (declared TIMESTAMP_NTZ, cast to the
    * UTC-pinned session type). A stream source needs a user-declared
    * schema, so probe the batch read's resolved schema first (memoized
    * by Tables.read) — a hard-coded encoding silently collapses every
    * watermark/window when the testdata generation flips (round-6
    * e06/e09 red wave). maxFilesPerTrigger keeps micro-batches bounded. */
  def eventStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanosAsLong = graft.Tables.read(s, d, "events")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsDecl = if (nanosAsLong) "LONG" else "TIMESTAMP_NTZ"
    val schema = s"event_id LONG, ts $tsDecl, user_id LONG, " +
      "event_type STRING, value DOUBLE, props STRING"
    // file-stream sources require a directory; glob-filter the events
    // file out of the shared sf dir
    val raw = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
    val ts = if (nanosAsLong) timestamp_micros(expr("ts div 1000"))
             else col("ts").cast("timestamp")
    raw.withColumn("ts", ts)
  }

  /** Streaming e01: watermarked tumbling-window counts per event type.
    * Append mode — only closed windows emit, exactly the semantics a
    * downstream consumer of hourly rollups wants. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("sum_value"))

  /** Stream-stream interval self-join: purchases ⋈ clicks within the
    * hour before each purchase, per user. The watermarks are what make
    * this run forever on a real cluster: they bound BOTH sides' join
    * state (click rows older than watermark+1h are evicted), so state
    * is O(events in the interval window), not O(stream). */
  def purchaseClickPairs(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
  }

  /** Stream-static enrichment join: each micro-batch joins against the
    * (broadcast) static dimension — stateless, no watermark needed; the
    * planner re-reads the dim per batch, so a slowly-refreshed
    * warehouse dim is picked up between batches. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"))

  /** Streaming exact dedup on (user_id, event_type): first arrival
    * wins. State is O(distinct pairs) — bounded by key cardinality,
    * not stream length; when a late-duplicate bound exists,
    * dropDuplicatesWithinWatermark (StreamingSpec) caps state by time
    * instead of cardinality. */
  def dedupPairs(events: DataFrame): DataFrame =
    events.select("user_id", "event_type").dropDuplicates("user_id", "event_type")

  /** Stateful sessionization with flatMapGroupsWithState: 30-minute
    * processing-gap sessions per user, emitting a summary per user as
    * state evolves. State is one (count, lastTs) pair per user — O(users)
    * memory, partitioned by the group key across executors. */
  def sessionize(events: Dataset[Ev]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[(Int, Long, Long)]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (nSessions, lastMs, nEvents) =
            state.getOption.getOrElse((0, Long.MinValue, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (lastMs == Long.MinValue || t - lastMs > 30 * 60 * 1000L)
              nSessions += 1
            lastMs = t
            nEvents += 1
          }
          state.update((nSessions, lastMs, nEvents))
          Iterator.single(SessionSummary(user, nSessions, nEvents))
      }
  }

  /** Batch events as the typed Dataset the sessionizer consumes. */
  def typedEvents(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
  }
}
