package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  // the streaming file source needs a directory containing ONLY events
  // files; stage one via symlink
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(sf("0.001"), "events.parquet"))
    d.toString
  }

  test("windowed streaming agg over events matches the batch computation") {
    val streamed = StreamingOps.runToMemorySink(
      StreamingOps.windowedCounts(StreamingOps.readEvents(spark, dir)),
      "win_counts", OutputMode.Append())

    val batch = StreamingOps.readEventsBatch(spark, s"$dir/events.parquet")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

    val s = streamed.select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val b = batch.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // append mode emits only watermark-closed windows: the streamed set
    // is the batch set minus windows within the 10-minute watermark of
    // the max event time
    assert(s.subsetOf(b))
    assert(s.nonEmpty)
    assert(b.size - s.size <= 5, s"too many unclosed windows: ${b.size - s.size}")
  }

  test("streaming dedup: one survivor per fingerprint within the watermark") {
    val streamed = StreamingOps.runToMemorySink(
      StreamingOps.streamingDedup(
        StreamingOps.readEvents(spark, dir), Seq("user_id", "event_type")),
      "dedup_stream", OutputMode.Append())
    val batchDistinct = StreamingOps.readEventsBatch(spark, s"$dir/events.parquet")
      .select("user_id", "event_type").distinct().count()
    // one micro-batch over a static source: state never expires inside
    // the run, so the streamed row set is exactly the batch distinct set
    assert(streamed.count() === batchDistinct)
    val dup = streamed.groupBy("user_id", "event_type").count().where(col("count") > 1)
    assert(dup.count() === 0)
  }

  test("flatMapGroupsWithState sessionization: gap-closed and timed-out sessions match batch") {
    val streamed = StreamingOps.runToMemorySink(
      StreamingOps.sessionizeStream(StreamingOps.readEvents(spark, dir)).toDF(),
      "sessions_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val gap = 1800000000000L
    val ev = StreamingOps.readEventsBatch(spark, s"$dir/events.parquet").select("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxTs = ev.map(_._2).max
    val all = ev.groupBy(_._1).flatMap { case (uid, es) =>
      val ts = es.map(_._2).sorted
      val sess = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = ts.head; var end = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t - end > gap) { sess += ((uid, start, end, n)); start = t; end = t; n = 1 }
        else { end = t; n += 1 }
      }
      sess += ((uid, start, end, n))
      sess
    }.toSet
    val s = streamed.select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(s.subsetOf(all), "streamed sessions must be real batch sessions")
    assert(s.nonEmpty)
    // sessions whose timeout lands strictly before the final watermark
    // MUST have been emitted (gap-close or timeout)
    val mustEmit = all.filter { case (_, _, end, _) =>
      end / 1000000L + gap / 1000000L < maxTs / 1000000L
    }
    assert(mustEmit.subsetOf(s))
    // anything unemitted is a still-open final session at the horizon
    (all -- s).foreach { case (uid, _, end, _) =>
      assert(end + gap >= maxTs - 2000000L, s"user $uid session should have closed")
    }
  }

  test("stream-stream interval join matches the batch range self-join") {
    val p = StreamingOps.readEvents(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("p_time"))
    val c = StreamingOps.readEvents(spark, dir)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("event_time").as("c_time"))
    val streamed = StreamingOps.runToMemorySink(
      StreamingOps.intervalJoinStreams(
        p, c, "user_id", "c_uid", "p_time", "c_time", lookback = "30 minutes"),
      "ss_join", OutputMode.Append())
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = StreamingOps.readEventsBatch(spark, s"$dir/events.parquet")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val bp = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("event_time").as("p_time"))
    val bc = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"), col("event_time").as("c_time"))
    val batch = bp.join(bc,
        bp("user_id") === bc("c_uid") && bc("c_time") <= bp("p_time") &&
          bc("c_time") >= bp("p_time") - expr("interval 30 minutes"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // inner stream-stream joins DO evict state past the watermark: events
    // arriving more than watermarkDelay (1h) out of order would lose their
    // match vs the batch oracle. The sets match here only because the single
    // staged file is processed in one micro-batch, so all data arrives
    // within the watermark delay — a multi-file fixture must keep each
    // side's disorder under 1h or expect missing pairs.
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming incremental dedup drops history dups and in-stream repeats") {
    import spark.implicits._
    val docsDir = java.nio.file.Files.createTempDirectory("docs_stream")
    Seq(
      (1L, "already in history", "en", "web", 18L),
      (2L, "fresh streaming doc", "en", "web", 19L),
      (3L, "fresh streaming doc", "en", "web", 19L), // in-stream dup of 2
      (4L, "another new doc", "en", "web", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$docsDir/documents.parquet")
    val history = Seq((100L, "already in history")).toDF("doc_id", "text")
    val hist = graft.operators.Dedup.exactFingerprintIndex(history, "text")
    val out = StreamingOps.runToMemorySink(
      StreamingOps.incrementalDedupStream(
        StreamingOps.readDocuments(spark, s"$docsDir/documents.parquet"),
        hist, "doc_id", "text"),
      "inc_dedup", OutputMode.Append())
    val fps = out.select("fp").as[String].collect().toSet
    val expected = Set("fresh streaming doc", "another new doc")
      .map(t => java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(fps === expected)
  }
}
