package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is pure batch (SURVEY.md
  * §2.8), so this is greenfield: the events table drives the same
  * relational operators in micro-batch. Watermarked windowed
  * aggregation for the declarative path; flatMapGroupsWithState for custom
  * session state the window model can't express.
  */
object StreamingOps {

  /** events.parquet schema with ts as epoch-nanos long (the
    * nanosAsLong reading used engine-wide).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events table has shipped in two physical encodings of `ts`:
    * TIMESTAMP(NANOS) — which the engine-wide nanosAsLong config reads
    * as an epoch-nanos long — and TIMESTAMP(MICROS), which Spark reads
    * as TimestampType. ALL downstream time math (window divisors,
    * session gaps, as-of keys) is in epoch nanos, so every scan
    * normalizes `ts` to epoch-nanos long here: a regenerated dataset
    * must not be able to silently rescale time by 1000×. Micros→nanos
    * is exact (×1000); the unused-branch projection prunes away under
    * Catalyst CollapseProject/ColumnPruning when ts isn't selected.
    */
  def tsToNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case TimestampType => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
    case TimestampNTZType =>
      // session tz is pinned UTC engine-wide, so NTZ wall-clock == instant
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    case LongType => df
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported parquet type $other — expected " +
        "TIMESTAMP(MICROS/NANOS, tz or ntz) or INT64-as-nanos")
  }

  /** Batch scan over events parquet with `ts` normalized to epoch-nanos
    * long regardless of the file's timestamp encoding.
    */
  def readEventsBatch(spark: SparkSession, pathOrGlob: String): DataFrame =
    tsToNanos(spark.read.parquet(pathOrGlob))

  /** Micro-batch source over events parquet (path or glob — it must
    * match only events files; a directory of mixed tables would be read
    * with this schema and yield nulls). The streaming file source needs
    * the physical schema up front, so sniff the footer with a batch read
    * (driver-side metadata only) and pick the matching ts field type;
    * after [[tsToNanos]] the downstream contract is uniform: `ts` =
    * epoch-nanos long, `event_time` = micros-precision timestamp.
    */
  def readEvents(spark: SparkSession, pathOrGlob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // an empty or not-yet-populated source directory (or zero-match
    // glob) has no footer to sniff — fall back to the engine-wide
    // LongType epoch-nanos encoding, which is what every writer in this
    // repo emits; files arriving later with a TIMESTAMP encoding would
    // need the directory to be non-empty at stream start
    val physicalTs =
      try spark.read.parquet(pathOrGlob).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => LongType }
    val schema = StructType(eventsSchema.map {
      case f if f.name == "ts" => f.copy(dataType = physicalTs)
      case f => f
    })
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    tsToNanos(reader.parquet(pathOrGlob))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
  }

  /** Watermarked tumbling-window aggregation: counts + value sums per
    * (5-minute window, event_type). Late data beyond 10 minutes dropped.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  // event_time rides along: the watermark column must survive into the
  // stateful operator for EventTimeTimeout to be allowed
  case class SessionEvent(user_id: Long, ts: Long, event_time: java.sql.Timestamp)
  case class OpenSession(start: Long, end: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  /** Gap-based streaming sessionization via flatMapGroupsWithState —
    * the stateful path for semantics windows can't express (a session
    * has no fixed width). A session closes and is emitted either when a
    * later event arrives more than `gapNanos` after it, or when the
    * event-time watermark passes its end + gap (idle-user timeout, via
    * EventTimeTimeout + a no-data micro-batch). State per user is one
    * open session — O(active users), bounded, which is what survives an
    * unbounded stream; the batch twin is ev2's window-function plan.
    */
  def sessionizeStream(
      events: DataFrame,
      gapNanos: Long = 1800000000000L,
      watermarkDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      .select(col("user_id"), col("ts"), col("event_time")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.start, s.end, s.n))
          } else {
            // events within a micro-batch arrive unsorted; per-group sort
            // is bounded by the user's batch volume
            val sorted = batch.toSeq.sortBy(_.ts)
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption
            sorted.foreach { e =>
              open match {
                case Some(s) if e.ts - s.end > gapNanos =>
                  closed += ClosedSession(uid, s.start, s.end, s.n)
                  open = Some(OpenSession(e.ts, e.ts, 1))
                case Some(s) =>
                  open = Some(OpenSession(s.start, e.ts, s.n + 1))
                case None =>
                  open = Some(OpenSession(e.ts, e.ts, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end / 1000000L + gapNanos / 1000000L)
            }
            closed.result().iterator
          }
      }
  }

  case class FunnelEvent(user_id: Long, ts: Long, event_id: Long, event_type: String)
  /** Per-user funnel cursor: highest step reached (0 = none) and the
    * (ts, event_id) of the event that matched it.
    */
  case class FunnelCursor(step: Int, ts: Long, event_id: Long)
  case class StepReach(user_id: Long, step: Long, step_name: String)

  /** Streaming strict-subsequence funnel (the incremental twin of
    * [[graft.operators.Funnel.funnelSteps]]): per-user state is ONE
    * fixed-size cursor however long the history — not an event buffer —
    * and each (user, step) reach is emitted exactly once, so the
    * downstream report is a plain aggregation of the append log.
    *
    * Greedy advancement equals the batch min-match PROVIDED events
    * arrive in (ts, event_id) order across micro-batches (within a
    * batch the group sorts itself): when processing order is event
    * order, the first qualifying next-step event IS the earliest one.
    * Out-of-order arrival degrades gracefully — a late-arriving earlier
    * event cannot retract an already-emitted reach (funnel reaches are
    * monotone), it can only have missed producing an earlier match.
    */
  def funnelStream(
      events: DataFrame,
      steps: Seq[String]): Dataset[StepReach] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelCursor, StepReach](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelCursor]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts, e.event_id))
          var cur = state.getOption
            .getOrElse(FunnelCursor(0, Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[StepReach]
          sorted.foreach { e =>
            if (cur.step < steps.length && e.event_type == steps(cur.step) &&
                (e.ts > cur.ts || (e.ts == cur.ts && e.event_id > cur.event_id))) {
              cur = FunnelCursor(cur.step + 1, e.ts, e.event_id)
              out += StepReach(uid, cur.step.toLong, steps(cur.step - 1))
            }
          }
          state.update(cur)
          out.result().iterator
      }
  }

  /** Streaming exact dedup for a continuously-arriving corpus: state is
    * keyed on the content fingerprint, bounded by the watermark
    * (dropDuplicatesWithinWatermark — duplicates separated by more than
    * the horizon can re-emit, which is the price of bounded state; at
    * 100 TB/day unbounded dedup state is not an option).
    */
  def streamingDedup(
      events: DataFrame,
      contentCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermarkDelay)
      .withColumn("fp", md5(concat_ws("\u0000", contentCols.map(col): _*)))
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-static enrichment join: each micro-batch hash-joins against
    * the static dimension (broadcast when small — the planner treats the
    * static side as a normal relation), no state, no watermark needed.
    * The canonical "attach user/customer attributes to a clickstream"
    * step.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(dim, events(eventKey) === dim(dimKey))

  /** Stream-STREAM interval join: two unbounded streams, equi-key plus a
    * time-range condition (right event within [left - lookback, left]).
    * Both sides carry watermarks so the join state is bounded: once the
    * watermark passes `leftTime - lookback`, buffered right rows older
    * than that are dropped — without the range condition + watermarks the
    * state would grow without bound, which is the difference between a
    * demo and something that survives an unbounded stream. Inner join,
    * so rows emit as soon as both sides arrive; no output-mode coupling.
    */
  def intervalJoinStreams(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      lookback: String,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    l.join(
      r,
      l(leftKey) === r(rightKey) &&
        r(rightTime) <= l(leftTime) &&
        r(rightTime) >= l(leftTime) - expr(s"interval $lookback"))
  }

  /** Stream-static AS-OF enrichment: each micro-batch of events picks up
    * the latest static right row at or before its event timestamp via
    * the batch [[graft.operators.AsOfJoin]] (point-in-time feature
    * lookup on a stream — account state at click time). Against a STATIC
    * right side the as-of result is a pure per-event function, so
    * micro-batch boundaries cannot change it; foreachBatch is the
    * idiomatic bridge for a batch operator the incremental planner can't
    * run natively (the union-scan's non-time window over an unbounded
    * stream). Each batch appends to `outDir` parquet — a real sink, no
    * driver-side collection; the per-batch join inherits the batch
    * operator's scale posture (one window shuffle on the key).
    */
  def asOfEnrichStream(
      events: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      rightTies: Seq[String],
      outDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.AsOfJoin
          .asOf(batch.toDF, right, leftKey, rightKey, leftTs, rightTs, payload, rightTies)
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** documents.parquet schema for the streaming-ingest queries. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Micro-batch source over documents parquet. */
  def readDocuments(spark: SparkSession, pathOrGlob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(documentsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(pathOrGlob)
  }

  /** Streaming incremental exact dedup — the ingest-time shape of
    * [[graft.operators.Dedup.incrementalExact]]: documents stream in,
    * anything whose content fingerprint is already in the (static)
    * history index drops via a stream-static left-anti join (stateless
    * per micro-batch; a bucketed index plugs in unchanged), and repeats
    * WITHIN the stream drop via fingerprint state bounded by the
    * watermark. Ingest time is stamped deterministically from the id so
    * results are reproducible; a real ingest uses its arrival clock and
    * the same plan.
    */
  def incrementalDedupStream(
      docs: DataFrame,
      historyFps: DataFrame,
      idCol: String,
      textCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withColumn("ingest_time",
        timestamp_seconds(lit(1700000000L) + col(idCol)))
      .withWatermark("ingest_time", watermarkDelay)
      .join(historyFps.select("fp"), Seq("fp"), "left_anti")
      .dropDuplicatesWithinWatermark("fp")

  case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)
  case class BudgetState(consumed: Long)
  case class AdmittedDoc(source: String, doc_id: Long, n_tokens: Long,
      start_offset: Long)

  /** Streaming token-budget admission (EV23) — the ingest-time shape of
    * [[graft.operators.Sampling.tokenBudgetFill]]: documents stream in
    * and each SOURCE admits arrivals until its running token total
    * covers `budget`; the crossing document is admitted (minimal head
    * covering the budget, c17's straddle rule) and everything after it
    * drops. Per-source consumed-token state is one long carried across
    * micro-batches via `flatMapGroupsWithState` — admission decisions
    * are batch-boundary invariant for id-ordered arrival because each
    * batch's group iterator is replayed in id order before folding.
    * A real ingest keeps arrival order instead and the same plan runs.
    */
  def budgetFillStream(
      docs: DataFrame,
      budget: Long): Dataset[AdmittedDoc] = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, AdmittedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[BudgetDoc], state: GroupState[BudgetState]) =>
          var consumed = state.getOption.map(_.consumed).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedDoc]
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            if (consumed < budget) {
              out += AdmittedDoc(src, d.doc_id, d.n_tokens, consumed)
              consumed += d.n_tokens
            }
          }
          state.update(BudgetState(consumed))
          out.iterator
      }
  }

  /** Streaming incremental NEAR-dup ingest — the minhash twin of
    * [[incrementalDedupStream]], completing the ingest-time dedup
    * lifecycle: each micro-batch signs its documents once, probes the
    * PERSISTENT band/signature index (seeded from the historical corpus;
    * parquet dirs — a bucketed index plugs in the same way), writes the
    * survivors, and appends the batch's OWN signatures + band keys to
    * the index so later batches dedup against everything already seen.
    *
    * The index absorbs every seen doc — dropped ones too. That makes
    * the drop decision BATCH-BOUNDARY INVARIANT for id-ordered arrival:
    * "drop iff a verified near-dup exists in history or earlier in the
    * stream/batch" gives the same answer whether the files land in one
    * micro-batch or fifty (if only survivors were indexed, a doc whose
    * match was itself dropped would flip decisions across batchings —
    * the greedy chain problem). Cost: index grows with corpus, but it
    * holds k longs + band keys per doc, not text — the same asymmetry
    * [[graft.operators.Dedup.incrementalMinHash]] banks on at 100 TB.
    *
    * History never re-shuffles: the probe joins stream-batch keys into
    * the index layouts. Batch signatures are checkpointed once and the
    * blocks are released per batch (the Bench snapshot-diff pattern) so
    * a long-running ingest does not pin old batches in executor memory.
    *
    * MAINTENANCE: per-batch appends accumulate small segment files (and,
    * under foreachBatch's at-least-once replay, duplicate rows) — run
    * [[graft.operators.Dedup.compactBandIndex]] /
    * [[graft.operators.Dedup.compactSignatureIndex]] at maintenance
    * cadence to collapse the directory into a bucketed, dedup'd,
    * `buckets`-file index that keeps the no-exchange probe contract.
    */
  def incrementalNearDupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sigsDir: String,
      bandsDir: String,
      outDir: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      minAgree: Double = 0.5,
      hashFamily: String = "xx64"): Unit = {
    val spark = docs.sparkSession
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val bSigs = graft.operators.Dedup
          .minHashSignatures(batch.toDF, idCol, textCol, n, k, hashFamily)
          .localCheckpoint()
        try {
          val survivors = graft.operators.Dedup.incrementalMinHashFromSigs(
            batch.toDF.select(col(idCol).as("doc_id")), bSigs,
            spark.read.parquet(sigsDir), spark.read.parquet(bandsDir),
            k, bands, minAgree, hashFamily)
          survivors.write.mode("append").parquet(outDir)
          bSigs.write.mode("append").parquet(sigsDir)
          graft.operators.Dedup.minHashBandIndex(bSigs, k, bands, hashFamily)
            .write.mode("append").parquet(bandsDir)
        } finally {
          (sc.getPersistentRDDs.keySet -- before)
            .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** embeddings.parquet schema for the streaming ANN serving query. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Micro-batch source over embeddings parquet. */
  def readEmbeddings(spark: SparkSession, pathOrGlob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(pathOrGlob)
  }

  /** Streaming ANN serving: query vectors arrive as a stream; each
    * micro-batch probes the STATIC bucketed corpus
    * ([[graft.operators.SimilaritySearch.writeBucketed]]) and appends
    * its per-query top-k. The micro-batch's queries are collected to
    * the driver — that is the serving contract, not a scale leak: a
    * serving batch is a bounded handful of request vectors (the same
    * parameter class as e4/e5 centroids), and holding them driver-side
    * is what lets the probe PARTITION-PRUNE the corpus scan to the
    * union of the batch's probe buckets (nProbes·|batch|/2^nBits of
    * the data) instead of stream-static-joining the whole index per
    * trigger. Per-query results are independent, so output is
    * batch-boundary invariant — the oracle is the batch rule over all
    * streamed queries. Returns the number of non-empty micro-batches
    * served (multi-batch evidence for specs).
    *
    * The index's persisted width/seed (`SimilaritySearch.readBucketedMeta`)
    * override the `nBits`/`seed` parameters inside the per-batch probe
    * (they must — the probe has to hash like the build); the parameters
    * are only the fallback for a pre-meta index. Serving a pinned width
    * the build had outgrown is what wedged the sf100 leg: 4 bits means
    * every query scans 1/16 of the corpus at ANY scale. Production
    * indexes are written with `targetOccupancy` so the width — and with
    * it the per-query candidate count — is set by the corpus, not the
    * config.
    */
  def annServeStream(
      queryStream: DataFrame,
      idCol: String,
      embCol: String,
      bucketedPath: String,
      outDir: String,
      dim: Int,
      k: Int,
      nBits: Int = 8,
      seed: Long = 42,
      nProbes: Int = 1): Int = {
    val spark = queryStream.sparkSession
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = queryStream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val queries = batch
          .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).toSeq
        if (queries.nonEmpty) {
          served.incrementAndGet()
          graft.operators.SimilaritySearch
            .batchAnnTopKBucketed(spark, bucketedPath, idCol, embCol, dim,
              queries, k, nBits, seed, nProbes)
            .write.mode("append").parquet(outDir)
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    served.get()
  }

  /** Streaming CDC ingest, merge-on-read layout: each micro-batch of
    * change records (key + replacement columns + op I/U/D + version) is
    * collapsed to its per-key winners ([[graft.operators.Merge.winners]],
    * one partial+final max_by agg — the only shuffle, sized by the
    * batch) and APPENDED to a delta log. The base snapshot is never
    * rewritten per batch — at 100 TB rewriting the base on every
    * micro-batch is the design that cannot ship; instead readers
    * resolve `Merge.upsert(base, log)` at query time (winner-picking
    * is an argmax, so one log-wide resolve == applying the batches one
    * at a time), and maintenance folds the log into a new base with the
    * same call. At-least-once replay may append a batch's winners
    * twice; the resolve's max_by is idempotent to exact duplicates, so
    * the snapshot is unaffected (same contract as the near-dup index
    * appends above).
    */
  def cdcUpsertStream(
      changes: DataFrame,
      keyCol: String,
      dataCols: Seq[String],
      logDir: String,
      versionCol: String = "version",
      opCol: String = "op"): Unit = {
    val q = changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Merge
          .winners(batch.toDF, keyCol, dataCols, versionCol, opCol)
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming windowed cardinality sketch (EV15): per micro-batch,
    * build the HLL register table of (hour window -> distinct users)
    * over just that batch and APPEND it to a register log — the ev13
    * merge-on-read shape applied to sketches, which is how production
    * keeps "distinct users per hour" over an unbounded stream without
    * per-user state: register max is associative and commutative, so
    * appended per-batch registers resolve at read time to EXACTLY the
    * batch-computed sketch whatever the batch boundaries (spec-gated),
    * and the log compacts with the same groupBy-max that resolves it.
    * State per window is <= 256 longs regardless of user cardinality —
    * compare dropDuplicates-based exact counting whose state grows with
    * distinct users.
    */
  def hllWindowStream(events: DataFrame, logDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Sketch.hllRegisters(
          batch.toDF.select(
            (expr("ts div 3600000000000") * 3600).as("window_start"),
            col("user_id").cast("string").as("u")),
          "window_start", "u")
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[hllWindowStream]]'s register log: fold the
    * per-batch registers with elementwise max, then estimate.
    */
  def hllWindowResolve(spark: SparkSession, logDir: String): DataFrame =
    graft.operators.Sketch.hllEstimate(
      spark.read.parquet(logDir)
        .groupBy("window_start", "__idx").agg(max("m_j").as("m_j")),
      "window_start")

  /** Streaming windowed frequency sketch — the Count-Min twin of
    * [[hllWindowStream]], same merge-on-read shape: per micro-batch the
    * batch's (hour window -> user) counts become a d x w counter
    * matrix APPENDED to a log. Counters are additive, so read-time
    * resolve (a (scope, r, idx) sum) is EXACTLY the batch-built matrix
    * whatever the batch boundaries — state per window is <= 2048 longs
    * however many users.
    */
  def cmsWindowStream(events: DataFrame, logDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Sketch.cmsCountersBy(
          batch.toDF.select(
            (expr("ts div 3600000000000") * 3600).as("window_start"),
            col("user_id").cast("string").as("u"))
            .groupBy("window_start", "u").agg(count(lit(1)).as("n")),
          "window_start", "u", "n")
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[cmsWindowStream]]'s counter log: fold by
    * addition, then serve per-window top-k heavy-hitter users — the
    * probe set (distinct (window, user)) and exact counts come from the
    * batch events table, estimates from the resolved counters, ranking
    * via the bounded typed top-k agg (no window over users).
    */
  def cmsWindowTopUsers(spark: SparkSession, logDir: String,
      events: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val counters = spark.read.parquet(logDir)
      .groupBy("scope", "r", "idx").agg(sum("c").as("c"))
    val exact = events.select(
        (expr("ts div 3600000000000") * 3600).as("window_start"),
        col("user_id").cast("string").as("u"))
      .groupBy("window_start", "u").agg(count(lit(1)).as("exact_cnt"))
    // est is referenced twice (the typed top-k agg AND the join back
    // that attaches counts to the winners); without a barrier the whole
    // resolve chain — events agg, counter-log fold, d-row explode,
    // broadcast probe — re-runs for the second reference. The probe set
    // is bounded by |windows| x |users| (it IS the serving artifact), so
    // materialize it once.
    val est = graft.operators.Sketch.cmsEstimateBy(
      exact, "window_start", "u", counters)
      .transform(graft.util.Barriers.corpusScale)
    val agg = new graft.operators.BoundedTopKByScoreAgg(k)
    val top = est.select(col("window_start"), col("u").cast("long").as("uid"),
        col("est_cnt"), col("exact_cnt"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._3.toDouble, t._2))
      .agg(agg.toColumn.name("top"))
      .flatMap { case (w, tops) => tops.map { case (_, uid) => (w, uid) } }
      .toDF("window_start", "user_id")
    top.join(est.select(col("window_start"), col("u").cast("long").as("user_id"),
        col("est_cnt"), col("exact_cnt")), Seq("window_start", "user_id"))
      .select(col("window_start"), col("user_id"),
        col("est_cnt"), col("exact_cnt"),
        expr("(est_cnt - exact_cnt) * 10000 div exact_cnt").as("err_bp"))
  }

  /** Streaming histogram-bin log — the quantile member of the
    * merge-on-read sketch family (registers: max; counters: add; bins:
    * add): per micro-batch the batch's per-source log-histogram bins
    * are appended; bin-count addition is associative, so the resolved
    * log IS the batch histogram and downstream quantile estimates are
    * batch-boundary invariant.
    */
  def histLogStream(docs: DataFrame, logDir: String): Unit = {
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Sketch.histBins(batch.toDF, "source", "n_chars")
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[histLogStream]]: fold bins by addition,
    * rebuild the '__all' merge, estimate quantiles — the same report
    * t22 computes in batch.
    */
  def histLogResolve(spark: SparkSession, logDir: String,
      qs: Seq[Int]): DataFrame = {
    // the folded log is referenced by the union, the '__all' merge and
    // twice inside histQuantiles — fold the (sketch-state-sized) log
    // once instead of re-scanning it per reference (VERDICT r17 #8)
    val perSource = spark.read.parquet(logDir)
      .groupBy("scope", "bin", "edge")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .localCheckpoint()
    graft.operators.Sketch.histQuantiles(
      perSource.unionByName(
        graft.operators.Sketch.histMerge(perSource, "__all")),
      qs)
  }

  /** Streaming PSI drift log — the monitoring member of the
    * merge-on-read family: per micro-batch, the batch's events bin into
    * per-day-window log-histograms ([[graft.operators.Sketch.histBins]]
    * over value cents) appended to the log. Bin counts add, so the
    * resolved log is EXACTLY the batch histogram whatever the batch
    * boundaries, and the PSI report computed from it is bit-identical
    * to ev24's batch answer — the associativity the ev22/ev21/ev20 logs
    * share. Log volume is bounded by |windows| x |bins|, not events.
    */
  def psiLogStream(events: DataFrame, logDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Sketch.histBins(
          batch.toDF
            .select(expr("ts div 86400000000000").as("wnd"),
              floor(col("value") * 100).cast("long").as("cents")),
          "wnd", "cents")
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[psiLogStream]]: fold bins by addition,
    * pool the reference by bin-count merge, score each day window's
    * PSI against it — the same report ev24 computes in batch.
    */
  def psiLogResolve(spark: SparkSession, logDir: String): DataFrame = {
    // psiDrift references the folded bins 3x — fold the (sketch-state-
    // sized) log once instead of re-scanning it per reference
    val bins = spark.read.parquet(logDir)
      .groupBy("scope", "bin", "edge")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .localCheckpoint()
    graft.operators.Sketch.psiDrift(
      bins, graft.operators.Sketch.histMerge(bins, "__ref"))
  }

  /** Streaming daily-count log for z-score anomaly monitoring
    * (ev27 = ev26 through the log): per micro-batch the batch's
    * (event_type, day) counts append; counts add, so the folded log is
    * EXACTLY the batch daily series whatever the batch boundaries, and
    * the trailing-window integer z-score flags computed from it are
    * bit-identical to ev26's batch answer. Log volume is |types|×|days|
    * per batch, not events.
    */
  def dailyCountLogStream(events: DataFrame, logDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF
          .select(col("event_type"), expr("ts div 86400000000000").as("day"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"))
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[dailyCountLogStream]]: fold counts by
    * addition, then the same integer z-score window ev26 runs in batch
    * ([[graft.operators.Anomaly.zscoreFlags]]).
    */
  def zscoreLogResolve(spark: SparkSession, logDir: String): DataFrame = {
    val daily = spark.read.parquet(logDir)
      .groupBy("event_type", "day")
      .agg(sum("cnt").as("cnt"))
    graft.operators.Anomaly.zscoreFlags(daily, "event_type", "day", "cnt")
  }

  /** Streaming t-digest log: per micro-batch each source's documents
    * fold into a partial digest (k1, δ=200) and the digest's centroid
    * state appends to the log. Digests MERGE (concat + recompress), so
    * the resolved log is a valid digest over the union stream — unlike
    * the integer logs the bits are merge-order-dependent, but the k1
    * rank-error CONTRACT is not, which is exactly what the t27-shaped
    * gate row checks. Log volume: |sources| × ≤2δ centroids per batch.
    */
  def tdigestLogStream(docs: DataFrame, logDir: String,
      compression: Int = 200): Unit = {
    val td = udaf(new graft.operators.TDigestAgg(compression))
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF
          .select(col("source"), col("n_chars").cast("double").as("v"))
          .groupBy("source").agg(td(col("v")).as("td"))
          .select(col("source"), col("td.means").as("means"),
            col("td.weights").as("weights"))
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[tdigestLogStream]]: merge each source's
    * per-batch digests (same k1 recompression as the aggregator's merge
    * path) into one digest per source.
    */
  def tdigestLogResolve(spark: SparkSession, logDir: String,
      compression: Int = 200): DataFrame = {
    import spark.implicits._
    spark.read.parquet(logDir)
      .as[(String, Seq[Double], Seq[Long])]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val d = graft.operators.TDigest.mergeDigests(
          it.map(t => (t._2, t._3)).toSeq, compression)
        (src, d.means.toSeq, d.weights.toSeq)
      }
      .toDF("source", "means", "weights")
  }

  /** Streaming activity log for cohort retention — the merge-on-read
    * member for the retention triangle: per micro-batch the batch's
    * DISTINCT (user, week) pairs are appended. Both downstream
    * aggregations are associative (activity = set union, cohort = min
    * over weeks), so the resolved log computes EXACTLY the batch
    * triangle whatever the batch boundaries — and the log is bounded by
    * |users| x |weeks| pairs, not by events.
    */
  def retentionLogStream(events: DataFrame, logDir: String): Unit = {
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF.select(col("user_id"),
            expr(s"ts div ${graft.operators.Retention.WeekNs}").as("wk"))
          .distinct()
          .write.mode("append").parquet(logDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Read-time resolve of [[retentionLogStream]]'s activity log into
    * the retention triangle (cross-batch repeats die in the triangle's
    * own distinct).
    */
  def retentionResolve(spark: SparkSession, logDir: String): DataFrame =
    graft.operators.Retention.retentionFromActivity(
      spark.read.parquet(logDir))

  /** Ingest-time quality gate + language tag (stateless): the c1
    * pipeline's per-document gates — token count, mean token length,
    * stopword ratio, heuristic lang-id — applied AT THE DOOR, before a
    * document ever lands in the lake, the way production corpus ingest
    * filters junk. Pure codegen'd Column expressions, so the SAME call
    * runs on a batch frame or a micro-batch stream with zero state,
    * zero shuffles, and batch-boundary-invariant output (per-row
    * decisions). Stateful concerns stay where they live: exact dedup at
    * ingest is [[incrementalDedupStream]], near-dup is
    * [[incrementalNearDupStream]] — this is the cheap narrow gate that
    * runs FIRST so they never see junk.
    */
  def qualityGateStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      stopwords: Seq[String] = Seq("the", "a", "of"),
      minTokens: Int = 10,
      minAvgTokLen: Double = 2.0,
      maxStopRatio: Double = 0.15): DataFrame = {
    import graft.operators.TextAnalysis
    val txt = col(textCol)
    docs
      .select(col(idCol),
        TextAnalysis.tokenCount(txt).as("n_tokens"),
        TextAnalysis.avgTokenLen(txt).as("avg_tok_len"),
        TextAnalysis.stopwordRatio(txt, stopwords).as("stop_ratio"),
        TextAnalysis.langId(txt).as("pred_lang"))
      .where(col("n_tokens") >= minTokens && col("avg_tok_len") >= minAvgTokLen &&
        col("stop_ratio") <= maxStopRatio)
      .select(col(idCol), col("n_tokens"), col("pred_lang"))
  }

  /** Run a streaming query to completion against the (static) test
    * parquet via the memory sink; returns the collected result table.
    */
  def runToMemorySink(df: DataFrame, name: String, mode: OutputMode): DataFrame =
    runToMemorySinkWithProgress(df, name, mode)._1

  /** As [[runToMemorySink]], but also returns the per-micro-batch
    * progress log — lets specs assert that state genuinely crossed
    * multiple micro-batches (maxFilesPerTrigger=1 over a split fixture)
    * instead of everything landing in one.
    */
  def runToMemorySinkWithProgress(df: DataFrame, name: String, mode: OutputMode)
      : (DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    val progress = q.recentProgress
    q.stop()
    (df.sparkSession.table(name), progress)
  }
}
