package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("streaming tumbling-window agg matches the batch e01 counts") {
    val stream = streaming.Streams.eventStream(spark, sf)
    val agg = streaming.Streams.tumblingCounts(stream)
    val q = agg.writeStream
      .outputMode("append")
      .format("memory").queryName("stream_e01")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql(
      "SELECT event_type, sum(n) AS n FROM stream_e01 GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = ops.EventOps.e01(spark, sf)
      .groupBy("event_type").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // append mode drops windows newer than the watermark; everything
    // emitted must match the batch rollup, and most windows must close.
    assert(streamed.nonEmpty)
    streamed.foreach { case (et, n) => assert(n <= batch(et)) }
    assert(streamed.values.sum >= batch.values.sum / 2)
  }

  test("e06 drops its memory-sink view and its frames still collect") {
    val frames = Seq.fill(2)(ops.EventOps.e06(spark, sf))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_e06_")))
    frames.foreach(f => assert(f.collect().nonEmpty))
  }

  test("streaming dedup drops replayed events within the watermark") {
    val stream = streaming.Streams.eventStream(spark, sf)
    // replay the same source twice (union) — dropDuplicates on the key
    // must collapse the duplicates, the streaming form of d01
    val deduped = stream.union(stream)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy().count()
    val q = deduped.writeStream.outputMode("complete")
      .format("memory").queryName("stream_dedup").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql("SELECT * FROM stream_dedup").collect()(0).getLong(0)
    assert(got == Tables.events(spark, sf).count())
  }

  test("stream-stream interval join matches the batch range join") {
    val joined = streaming.Streams.purchaseClickPairs(
      streaming.Streams.eventStream(spark, sf))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("stream_join").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.sql("SELECT count(*) FROM stream_join")
      .collect()(0).getLong(0)
    // batch equivalent: q22's inner pair count
    val batch = ops.Relational.q22(spark, sf)
      .agg(sum("n_clicks_1h")).collect()(0).getLong(0)
    assert(streamed == batch,
      s"stream-stream join produced $streamed pairs, batch $batch")
  }

  test("streaming near-dup flags exactly the batch twin's arrivals") {
    val streamed = ops.Dedup.e14(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = ops.Dedup.e14BatchTwin(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"stream flagged $streamed, batch twin $batch")
  }

  test("e16 watermark actually drops late windows (non-vacuous gate)") {
    // e16's oracle recomputes the surviving set, so the gate passes
    // only if the stream drops EXACTLY the predicted rows — this pin
    // additionally proves the drop set is non-empty: late odd-hour
    // windows really vanish vs the drop-free e01 shape. (Discovered
    // building this: the late-events filter runs on the watermark as
    // of TWO batches back, hence e16's nudge batch.)
    val got = ops.EventOps.e16(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val all = ops.EventOps.e01(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.size < all.size,
      s"e16 emitted ${got.size} windows, e01 has ${all.size} — nothing was dropped")
    // and every emitted (window, type) pair must exist in the full set
    assert(got.subsetOf(all))
  }

  test("stateful sessionization matches batch session counts") {
    val out = streaming.Streams.sessionize(
        streaming.Streams.typedEvents(spark, sf))
      .collect().map(s => s.user_id -> s.n_sessions).toMap
    val batch = ops.EventOps.e02(spark, sf)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
    assert(out.keySet == batch.keySet)
    batch.foreach { case (u, n) => assert(out(u).toLong == n, s"user $u") }
  }

  test("e28 update mode emits strictly fewer rows than complete mode would") {
    val rows = ops.EventOps.e28(spark, sf).collect()
    assert(rows.nonEmpty)
    val nKeys = rows.length.toLong
    val emitted = rows.map(_.getAs[Long]("n_emissions")).sum
    // complete mode re-emits every key every batch (3 × keys); update
    // mode must emit only changed keys — and at this scale many keys
    // genuinely skip batches
    assert(emitted < 3 * nKeys,
      s"emitted $emitted of ${3 * nKeys} — indistinguishable from complete mode")
    assert(rows.exists(_.getAs[Long]("n_emissions") < 3))
    // final state rebuilt from the update stream equals the batch count
    val total = rows.map(_.getAs[Long]("n_final")).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("e20 outer join emits the null-padded tail (non-vacuous gate)") {
    val rows = ops.EventOps.e20(spark, sf).collect()
    assert(rows.nonEmpty)
    val lonely = rows.map(_.getAs[Long]("n_lonely")).sum
    // there must BE unmatched purchases, or the left-outer gate
    // degenerates to e09's inner join — and every unmatched purchase
    // contributes exactly one null row (n_rows = n_pairs + n_lonely)
    assert(lonely > 0, "no unmatched purchases: outer-join gate is vacuous")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") ==
        r.getAs[Long]("n_pairs") + r.getAs[Long]("n_lonely"))
    }
  }

  test("e17 restart from checkpoint processes ONLY the remaining files") {
    val (result, run2Rows) = ops.EventOps.e17WithStats(spark, sf)
    val rows = result.collect()
    // no loss, no dupes: exactly the 60-doc slice, each exactly once
    assert(rows.length == 60, s"committed ${rows.length} rows, want 60")
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length, "duplicate doc_ids after restart")
    assert(ids.sorted.sameElements(0L until 60L))
    // the second incarnation read only the 30 docs landed while the
    // query was down — the offset log prevented any reprocessing
    assert(run2Rows == 30, s"restart re-read $run2Rows input rows, want 30")
  }

  test("e23 foreachBatch applies the CDC waves in order, one per batch") {
    val (df, nBatches) = ops.EventOps.e23WithStats(spark, sf)
    assert(nBatches == 2, s"expected 2 merge batches, got $nBatches")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 400).count()
    val inserts = Tables.documents(spark, sf)
      .filter(col("doc_id") < 400 && col("doc_id") % 25 === 0).count()
    // deletes really removed rows from the post-insert lake
    assert(total < base + inserts, "deletes never applied")
    assert(total > 0)
  }

  test("e21 streaming sessions merge state across out-of-order batches") {
    // necessity of the cross-batch merge: sessionizing each hour-parity
    // slice separately yields MORE sessions than the full corpus — so
    // the stream's per-user counts can only match batch e15 if the
    // state store merged events across the two batches
    def sessionsOf(par: Int): Long = Tables.events(spark, sf)
      .filter(hour(col("ts")) % 2 === par)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)))
      .count()
    val full = ops.EventOps.e15(spark, sf)
      .agg(sum("n_sessions")).collect()(0).getLong(0)
    assert(sessionsOf(0) + sessionsOf(1) > full,
      "parity split never splits a session: merge test is vacuous")
    // and the stream reproduces batch e15 row-for-row
    val streamed = ops.EventOps.e21(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = ops.EventOps.e15(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.sameElements(batch), "stream != batch sessionization")
  }

  test("e35: double-delivered batches land exactly once in the partitioned store") {
    val rows = ops.EventOps.e35(spark, sf).collect()
    assert(rows.nonEmpty)
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == batch(r.getAs[String]("event_type")),
        s"${r.getAs[String]("event_type")}: replay double-counted or lost rows")
      assert(r.getAs[Long]("n_batches") == 3L)
    }
  }

  test("e36: a second AvailableNow run drains only the delta, a third drains nothing") {
    val rows = ops.EventOps.e36(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.events(spark, sf).count()
    val firstHalf = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_id") % 4 < 2).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "two catch-up runs did not reconstruct the full stream")
    assert(rows.head.getAs[Long]("n_after_run1") == firstHalf,
      "run 1 drained more or less than the two landed waves")
    assert(firstHalf > 0 && firstHalf < total,
      "vacuous: the wave split gave one run everything")
  }

  test("e37: min-policy loses nothing; the max policy genuinely drops the slow feed") {
    val minRows = ops.EventOps.e37Flow(spark, sf, "min").collect()
      .map(_.getAs[Long]("n")).sum
    val batch = Tables.events(spark, sf).count()
    assert(minRows == batch, s"min policy lost rows: $minRows vs $batch")
    val maxRows = ops.EventOps.e37Flow(spark, sf, "max").collect()
      .map(_.getAs[Long]("n")).sum
    assert(maxRows < minRows,
      s"max policy dropped nothing ($maxRows) — the min gate is vacuous")
  }

  test("e38: sessions continue across the file boundary and flush exactly once") {
    val rows = ops.EventOps.e38(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
    val Seq(minUs, maxUs) = ev
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts"))),
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val midUs = (minUs + maxUs) / 2
    // full batch replay: the stream's closed sessions must equal the
    // batch gap-sessionization exactly (at sf0.001 no session happens
    // to straddle the landing midpoint, so set equality — which any
    // split-session bug breaks for users with batch-0 AND batch-1
    // events — is the stronger cross-batch pin)
    import org.apache.spark.sql.functions.{col => c, unix_micros => um, lag => lg, sum => sm, min => mn, max => mx, count => ct, lit, when}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val batchSessions = ev
      .select(c("user_id"), um(c("ts")).as("us"), c("event_id"))
      .withColumn("new_s", when(c("us") - lg(c("us"), 1).over(w) > 1800000000L
        || lg(c("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("sid", sm(c("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(mn(c("us")).as("start_us"), mx(c("us")).as("end_us"),
        ct(lit(1)).as("n_events"))
      .select("user_id", "start_us", "end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
      r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    assert(got == batchSessions,
      s"stream sessions diverge from batch replay: missing ${(batchSessions -- got).take(3)}, extra ${(got -- batchSessions).take(3)}")
    assert(midUs > minUs, "degenerate timeline")
    // exactly-once: no (user, start) emitted twice (a timer AND a data
    // close both firing would duplicate)
    val keys = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")))
    assert(keys.distinct.length == keys.length, "a session emitted twice")
  }

  test("e39: chained window tiers conserve events and bound hour fan-in") {
    val rows = ops.EventOps.e39(spark, sf).collect()
    assert(rows.nonEmpty)
    // tier conservation: the day tier's totals must re-add to the raw
    // event count — any hourly cell dropped or double-emitted between
    // the two stateful operators breaks this exactly
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sf).count(),
      "daily rollup lost or duplicated events across the chained tiers")
    rows.foreach { r =>
      val (nEv, nH, peak) = (r.getAs[Long]("n_events"),
        r.getAs[Long]("n_hours"), r.getAs[Long]("peak_hour"))
      assert(nH >= 1 && nH <= 24, s"impossible contributing-hour count $nH")
      assert(peak <= nEv && peak * nH >= nEv,
        "peak hour inconsistent with total/hours")
    }
    // non-vacuity: chaining actually compressed — fewer day cells than
    // hourly cells (the 2nd tier did real aggregation)
    val hourly = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "1 hour"), col("event_type"))
      .count().count()
    assert(rows.length < hourly, "day tier did not aggregate hour cells")
  }

  test("e40: versioned enrichment serves both sides of the migration boundary") {
    val rows = ops.EventOps.e40(spark, sf).collect()
    assert(rows.nonEmpty)
    val segs = rows.map(_.getAs[Long]("seg")).distinct
    // the pre-migration identities (0..4) and the migrated identities
    // (5..9) must BOTH appear — a current-version-only join collapses
    // everything into 5..9 for user%3==0 and a from-version-only join
    // never emits 5..9 at all
    assert(segs.exists(_ <= 4) && segs.exists(_ >= 5),
      s"segments $segs one-sided — the dim versioning is not serving")
    // every event enriched exactly once: intervals partition time
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, sf).count(),
      "interval join dropped or duplicated events")
    // and a migrated user genuinely straddles the boundary
    val straddler = Tables.events(spark, sf)
      .filter(col("user_id") % 3 === 0)
      .groupBy("user_id")
      .agg(count(when(col("ts") < lit("2024-01-16").cast("timestamp"), 1))
        .as("before"),
        count(when(col("ts") >= lit("2024-01-16").cast("timestamp"), 1))
          .as("after"))
      .filter(col("before") > 0 && col("after") > 0).count()
    assert(straddler > 0, "no migrated user has events on both sides")
  }

  test("broker-shaped file source keeps the e18 ledger contract: " +
    "per-partition offsets tile gap-free and exactly once") {
    // The sandbox has no broker and no spark-sql-kafka jar (SURVEY §5),
    // so the swap contract is exercised on its file-backed twin: a
    // "topic" laid down as 4 landed segments of Kafka-record-shaped
    // rows (partition, offset, key, value) — the exact schema
    // format("kafka") would deliver — consumed as micro-batches
    // (maxFilesPerTrigger=1). The invariants a real-broker swap must
    // keep are asserted on the SINK: every (partition, offset) consumed
    // exactly once, each partition's offsets a dense prefix, and the
    // keyed rollup equal to the batch recompute over the same files.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_broker")
    val topic = root.resolve("topic"); java.nio.file.Files.createDirectory(topic)
    val nParts = 3
    val perSeg = 10 // offsets per partition per landed segment
    val nSegs = 4
    def seg(si: Int) = (0 until nParts).flatMap { p =>
      (0 until perSeg).map { i =>
        val off = si * perSeg + i
        (p, off.toLong, s"k${(p + off) % 5}", (p * 1000 + off).toLong)
      }
    }.toDF("partition", "offset", "key", "value")
    (0 until nSegs).foreach(si => seg(si).coalesce(1).write.mode("append")
      .parquet(topic.toString))
    val schema = seg(0).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(topic.toString)
    val sink = "graft_broker_sink"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(sink).collect()
    // exactly-once: every (partition, offset) pair exactly once
    val pairs = got.map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    assert(pairs.length == nParts * perSeg * nSegs,
      s"consumed ${pairs.length} records, want ${nParts * perSeg * nSegs}")
    assert(pairs.distinct.length == pairs.length, "duplicated (part, offset)")
    // gap-free dense prefix per partition — the offsets_contiguous
    // invariant e18 gates on the rate source
    pairs.groupBy(_._1).foreach { case (p, ps) =>
      val offs = ps.map(_._2).sorted
      assert(offs.sameElements(0L until (perSeg * nSegs).toLong),
        s"partition $p offsets not a dense prefix")
    }
    // keyed rollup identical to the batch recompute over the same files
    val streamAgg = spark.table(sink).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    val batchAgg = spark.read.parquet(topic.toString).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    assert(streamAgg == batchAgg, "stream rollup diverged from batch")
  }

  test("broker twin: a partition ADDED mid-stream is consumed from " +
    "offset 0 without disturbing the old partitions") {
    // Kafka partition-add semantics: an admin grows the topic's
    // partition count and the new partition starts at offset 0 while
    // the old ones keep their sequence. The twin lands 2 segments of
    // partitions {0,1}, then 2 more that ALSO carry the new partition
    // 2 from offset 0 — segments appearing mid-stream with a
    // late-born key range (round-11, VERDICT r10 #7).
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_padd")
    val topic = root.resolve("topic"); java.nio.file.Files.createDirectory(topic)
    val perSeg = 10
    def seg(si: Int, parts: Seq[Int], firstSegOf: Map[Int, Int]) =
      parts.flatMap { p =>
        (0 until perSeg).map { i =>
          val off = (si - firstSegOf(p)) * perSeg + i
          (p, off.toLong, s"k${(p + off) % 5}", (p * 1000 + off).toLong)
        }
      }.toDF("partition", "offset", "key", "value")
    val born = Map(0 -> 0, 1 -> 0, 2 -> 2) // partition 2 born at seg 2
    val schema = seg(0, Seq(0, 1), born).schema
    (0 until 2).foreach(si => seg(si, Seq(0, 1), born).coalesce(1)
      .write.mode("append").parquet(topic.toString))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(topic.toString)
    val sink = "graft_padd_sink"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      // partition 2 appears mid-stream, the consumer already running
      (2 until 4).foreach(si => seg(si, Seq(0, 1, 2), born).coalesce(1)
        .write.mode("append").parquet(topic.toString))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table(sink).collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    assert(pairs.distinct.length == pairs.length, "duplicated (part, offset)")
    val byPart = pairs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // old partitions: full 4-segment dense prefix, untouched by the add
    Seq(0, 1).foreach { p =>
      assert(byPart(p).sameElements(0L until (4L * perSeg)),
        s"pre-existing partition $p lost offsets across the add")
    }
    // the new partition starts at 0 and tiles its own 2 segments
    assert(byPart(2).sameElements(0L until (2L * perSeg)),
      "added partition did not start at offset 0 / tile densely")
  }

  test("broker twin: a REBALANCED consumer (new instance, same group) " +
    "resumes from committed offsets — no gaps, no duplicates") {
    // Kafka consumer-group rebalance contract: when a consumer dies
    // and its partitions are reassigned, the successor resumes from
    // the group's committed offsets. The twin's committed offsets are
    // the checkpoint: consumer 1 drains 2 segments and STOPS; 2 more
    // segments land while nobody is subscribed; consumer 2 starts as
    // a NEW query on the SAME checkpoint + durable (file) sink and
    // must pick up exactly after consumer 1 — the sink holding every
    // (partition, offset) exactly once is the whole contract.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rebal")
    val topic = root.resolve("topic"); java.nio.file.Files.createDirectory(topic)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    val nParts = 3; val perSeg = 10
    def seg(si: Int) = (0 until nParts).flatMap { p =>
      (0 until perSeg).map { i =>
        val off = si * perSeg + i
        (p, off.toLong, s"k${(p + off) % 5}", (p * 1000 + off).toLong)
      }
    }.toDF("partition", "offset", "key", "value")
    val schema = seg(0).schema
    def consumer() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(topic.toString)
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir)
      .start()
    (0 until 2).foreach(si => seg(si).coalesce(1).write.mode("append")
      .parquet(topic.toString))
    val c1 = consumer()
    try c1.processAllAvailable() finally c1.stop() // consumer 1 dies
    (2 until 4).foreach(si => seg(si).coalesce(1).write.mode("append")
      .parquet(topic.toString)) // records land during the rebalance gap
    val c2 = consumer() // successor joins the group
    try c2.processAllAvailable() finally c2.stop()
    val pairs = spark.read.schema(schema).parquet(outDir).collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    assert(pairs.length == nParts * perSeg * 4,
      s"handoff lost records: ${pairs.length} of ${nParts * perSeg * 4}")
    assert(pairs.distinct.length == pairs.length,
      "handoff replayed records already committed by consumer 1")
    pairs.groupBy(_._1).foreach { case (p, ps) =>
      assert(ps.map(_._2).sorted.sameElements(0L until (4L * perSeg)),
        s"partition $p offsets not a dense prefix after the handoff")
    }
  }
}
