package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row
import graft.operators.Upsert

/** Structured-Streaming port of the reference's Kafka trio (ST-1..ST-8,
  * kafka/streaming.py): one streaming query replaces the per-event
  * producer/consumer hop; topics become sinks/filtered streams; the
  * in-process dict state becomes the checkpointed state store.
  *
  * The cleaning is the SAME Column library used in batch (ST-2's "same
  * validation rules as batch" — single codebase, guaranteed parity). All
  * transforms below accept either a batch or a streaming DataFrame.
  */
object Stream {

  /** Event-payload schema on the wire (JSON over Kafka; streaming.py:44-49
    * stamps event_time + source on top of the CSV row). */
  val eventSchema = "event_id string, student_id string, course_id string, " +
    "event_type string, event_timestamp string, duration_seconds string, " +
    "score string, module_id string, completion_percentage string, " +
    "event_time timestamp, source string"

  /** ST-1: the producer simulator as a rate-source stream — replays a
    * static fixture frame at `rowsPerSecond`, stamping event_time at emit
    * like the reference's EventSimulatorProducer (streaming.py:26-49).
    * Stream-static equi-join on the row index: the fixture side is tiny and
    * broadcast; rows cycle once the rate counter passes the fixture size. */
  def simulatedSource(fixture: DataFrame, rowsPerSecond: Int = 10): DataFrame = {
    // the fixture is a small replay file by construction — index it eagerly
    // (window/monotonic id expressions are rejected inside streaming plans)
    val spark = fixture.sparkSession
    val rows = fixture.collect()
    val n = rows.length.toLong
    val indexed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i.toLong)
      }.toIndexedSeq),
      org.apache.spark.sql.types.StructType(
        fixture.schema.fields :+
          org.apache.spark.sql.types.StructField("__idx", org.apache.spark.sql.types.LongType)))
    spark.readStream
      .format("rate").option("rowsPerSecond", rowsPerSecond.toLong).load()
      .withColumn("__idx", col("value") % lit(n))
      .join(broadcast(indexed), "__idx")
      .drop("__idx", "value")
      .withColumnRenamed("timestamp", "event_time")
      .withColumn("source", lit("file-simulator"))
  }

  /** ST-7 ingest: parse raw JSON; unparseable payloads keep their raw value
    * with is_dlq=true (from_json null => DLQ routing, never a crash). */
  def parseEvents(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.withColumn("__parsed",
        from_json(col(jsonCol), org.apache.spark.sql.types.StructType.fromDDL(eventSchema)))
      .withColumn("is_dlq", col("__parsed").isNull ||
        col("__parsed.event_id").isNull && col("__parsed.student_id").isNull)
      .select(col(jsonCol).as("raw_payload"), col("is_dlq"), col("__parsed.*"))

  /** ST-2: per-event cleaning (streaming.py:119-127): clamp score to
    * [0,100]; unparseable score -> is_valid=false. Kept expression-only so
    * it runs identically on batch and stream. */
  def cleanEvent(df: DataFrame): DataFrame = {
    val s = trim(col("score"))
    val parsed = when(s.rlike("^-?[0-9]+(\\.[0-9]*)?$"), s.cast("double"))
    // greatest/least skip nulls in Spark, so guard on parsed explicitly:
    // unparseable (and absent) scores stay null rather than clamping to 0
    df.withColumn("clean_score",
        when(parsed.isNotNull, least(greatest(parsed, lit(0.0)), lit(100.0))))
      .withColumn("is_valid", s.isNull || s === "" || parsed.isNotNull)
  }

  /** An event's duration in whole seconds, 0 when absent or unparseable.
    * try_cast, not cast: under Spark 4's default ANSI mode a plain cast of
    * a non-numeric payload (the CSV's literal `NULL`, a typo) throws
    * CAST_INVALID_INPUT and fails the whole stream instead of adding 0. */
  private def durationOrZero: Column =
    coalesce(col("duration_seconds").try_cast("long"), lit(0L))

  /** ST-3: per-student rolling metrics as a stateful streaming agg
    * (update output mode). Works unchanged on a batch frame. */
  def studentMetrics(cleaned: DataFrame): DataFrame =
    cleaned.filter(col("student_id").isNotNull)
      .groupBy(col("student_id"))
      .agg(
        count(lit(1)).as("event_count"),
        sum(durationOrZero).as("total_duration"),
        count(when(!col("is_valid"), 1)).as("error_count"))
      .withColumn("error_rate",
        col("error_count").cast("double") / greatest(col("event_count"), lit(1L)))
      .withColumn("is_anomalous", col("error_rate") > 0.2)

  /** ST-4: alert stream = anomalous slice of [[studentMetrics]]
    * (streaming.py:129-131: error_rate > 0.2 -> alerts.anomalies). */
  def alerts(metrics: DataFrame): DataFrame =
    metrics.filter(col("is_anomalous"))

  /** ST-5: tumbling 1-minute per-student event counts + rolling score avg,
    * with a watermark bounding state (the reference has no late-data story;
    * 10 minutes is this engine's documented policy, ST-6). */
  def perMinuteMetrics(cleaned: DataFrame, watermark: String = "10 minutes"): DataFrame =
    cleaned
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "1 minute"), col("student_id"))
      // exact DECIMAL(18,2) sum + one double division, not avg(double) —
      // same portable-exactness rationale as [[sessionMetrics]]
      .agg(
        count(lit(1)).as("events_per_minute"),
        (sum(col("clean_score").cast("decimal(18,2)")).cast("double") /
          count(col("clean_score"))).as("rolling_avg_score"))
      .select(col("window.start").as("window_start"),
        col("student_id"), col("events_per_minute"), col("rolling_avg_score"))

  /** ST-5: "active students in the last 5 minutes" — sliding 5-minute
    * window every minute; approx_count_distinct keeps state bounded (exact
    * per-key distinct state is unbounded at 100 TB scale). */
  def activeStudents(cleaned: DataFrame, watermark: String = "10 minutes"): DataFrame =
    cleaned
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "5 minutes", "1 minute"))
      .agg(approx_count_distinct("student_id").as("active_students"))
      .select(col("window.start").as("window_start"), col("active_students"))

  /** ST-5 completion: EVENT-TIME SESSION windows — dynamic per-student
    * windows that close after `gap` of inactivity (the streaming twin of
    * the batch sessionizer, q18; tumbling / sliding / session all now
    * exist on both the batch and stream sides). Session-window state is
    * watermark-bounded and merges adjacent micro-batch fragments; append
    * mode emits a session only when the watermark passes its end. */
  def sessionMetrics(cleaned: DataFrame, gap: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    cleaned
      .filter(col("student_id").isNotNull)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("student_id"))
      // exact DECIMAL(18,2) sum + ONE double division instead of
      // avg(double): scores are this engine's clamped [0,100] 2-decimal
      // domain, so the sum is exact and the average is accumulation-
      // order-independent — identical across reruns, partitionings, and
      // engines (the repo's portable-exactness discipline; float avg
      // varies in the last ulp with merge order)
      .agg(count(lit(1)).as("n_events"),
        (sum(col("clean_score").cast("decimal(18,2)")).cast("double") /
          count(col("clean_score"))).as("avg_score"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("student_id"), col("n_events"), col("avg_score"))

  /** Streaming event-sequence corpus — the session-window twin of
    * [[graft.operators.Sessionize.sessionSequences]]: each closed session
    * emits one ordered event-token "sentence". State is the per-session
    * event list, watermark-bounded (sessions older than the watermark are
    * emitted and dropped); ordering is restored by sort_array over
    * (ts, id) structs AFTER the merge, so fragment arrival order across
    * micro-batches cannot change the assembled sequence. Append mode —
    * a session's sentence is emitted exactly once, when the watermark
    * passes its end. */
  def sessionSequences(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, idCol: String,
                       gap: String = "30 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .filter(col(userCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col(tsCol).as("t"),
          col(idCol).as("i"), col(typeCol).as("e")))).as("__evs"))
      .select(col("session_window.start").as("session_start"),
        col(userCol), col("n_events"),
        array_join(transform(col("__evs"), s => s.getField("e")), " ")
          .as("event_seq"))

  /** Active-distinct per window via the engine's own linear-counting
    * sketch ([[graft.operators.Sketch.linearCountDistinct]]'s streaming
    * twin): stage 1 keeps one state row per OCCUPIED BUCKET per window
    * (bounded by m, not by distinct ids), stage 2 counts occupied buckets
    * per closed window and applies the -m*ln((m-z)/m) estimator — two
    * chained watermark-bounded aggregations (Spark 4 multiple stateful
    * operators, append mode). Same bounded-state argument as
    * [[activeStudents]]'s HLL, but with the sketch the batch side already
    * value-oracles, so batch and stream share one estimator. */
  def activeStudentsSketch(cleaned: DataFrame, m: Int = 4096,
                           watermark: String = "10 minutes",
                           portable: Boolean = false): DataFrame =
    cleaned
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "5 minutes", "1 minute"),
        // the batch operator's own bucket/estimator definitions
        // (graft.operators.Sketch) — one code path, never two; portable
        // routes the hash through the md5 family the oracle can replay
        graft.operators.Sketch.bucketCol(col("student_id"), m,
          portable = portable).as("__bucket"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("occupied"))
      .select(col("window.start").as("window_start"), col("occupied"),
        graft.operators.Sketch.lcEstimate(m, col("occupied")).as("est_active"))

  /** Active-distinct per window via HYPERLOGLOG registers — the
    * [[activeStudentsSketch]] shape (two chained watermark-bounded
    * aggregations, append mode) with HLL instead of linear counting, for
    * cardinalities past LC's saturation: stage 1 state is one MAX register
    * per (window, bucket) — still bounded by m per window, never the id
    * set — and stage 2 folds the registers through the SAME estimator
    * expression the batch operator oracles
    * ([[graft.operators.Sketch.hllEstimateCol]]). */
  def activeStudentsHll(cleaned: DataFrame, p: Int = 12,
                        watermark: String = "10 minutes"): DataFrame =
    cleaned
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "5 minutes", "1 minute"),
        graft.operators.Sketch.hllBucket(col("student_id"), p).as("__bucket"))
      .agg(max(graft.operators.Sketch.hllRho(col("student_id"))).as("reg"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("occupied"),
        sum(graft.operators.Sketch.hllTerm).as("__s"))
      .select(col("window.start").as("window_start"), col("occupied"),
        graft.operators.Sketch.hllEstimateCol(p, col("occupied"), col("__s"))
          .as("est_active"))

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose timestamp lands in [left_ts, left_ts +
    * horizon] — the attribution-window shape (click -> purchase). BOTH
    * sides carry watermarks and the join condition bounds the time range
    * in BOTH directions, which is what lets Spark expire buffered state:
    * a left row older than the watermark minus horizon can never match
    * again and is evicted, so state is horizon-bounded per key, not
    * stream-length-bounded.
    *
    * Column contract: left has (keyCol, `left_time`), right has (keyCol,
    * `right_time`); output is inner-joined rows with both timestamps. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   horizonMinutes: Int = 10,
                   watermark: String = "10 minutes"): DataFrame =
    left.withWatermark("left_time", watermark).alias("l")
      .join(right.withWatermark("right_time", watermark).alias("r"),
        expr(s"""l.$keyCol = r.$keyCol AND
                 right_time >= left_time AND
                 right_time <= left_time + INTERVAL $horizonMinutes MINUTES"""))
      .select(col(s"l.$keyCol").as(keyCol), col("left_time"),
        col("right_time"))

  /** ST-3 with explicit state + TTL via flatMapGroupsWithState — the
    * unbounded-dict fix (SURVEY §7.4-4): state for an idle student expires
    * after `ttlMs` of processing time instead of living forever like the
    * reference's per_student dict. */
  final case class StudentState(count: Long, duration: Long, errors: Long)
  final case class StudentUpdate(student_id: String, event_count: Long,
    total_duration: Long, error_count: Long, error_rate: Double, is_anomalous: Boolean)

  def statefulStudentMetrics(cleaned: DataFrame, ttlMs: Long = 0L): DataFrame = {
    import cleaned.sparkSession.implicits._
    val byStudent = cleaned
      .filter(col("student_id").isNotNull)
      .select(col("student_id"),
        durationOrZero.as("duration"),
        (!col("is_valid")).cast("long").as("err"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
    // ttlMs <= 0 -> NoTimeout: registering ProcessingTimeTimeout makes the
    // micro-batch engine trigger continuously even with no data, which is
    // wasteful on a quiet stream (and livelocks local tests); enable the TTL
    // only when state expiry is actually wanted
    val timeout = if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    byStudent.flatMapGroupsWithState(OutputMode.Update(), timeout) {
      (id: String, events: Iterator[(String, Long, Long)], state: GroupState[StudentState]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          var s = state.getOption.getOrElse(StudentState(0, 0, 0))
          events.foreach { e => s = StudentState(s.count + 1, s.duration + e._2, s.errors + e._3) }
          state.update(s)
          if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
          val rate = s.errors.toDouble / math.max(s.count, 1L)
          Iterator.single(StudentUpdate(id, s.count, s.duration, s.errors, rate, rate > 0.2))
        }
    }.toDF()
  }

  /** Per-key CUSUM state: readings seen, exact baseline cent sum, the
    * prefix walk and its running minimum — O(1) per key, all integers. */
  final case class CusumState(nSeen: Long, s0: Long, pfx: Long, runmin: Long)
  final case class CusumFlag(user_id: Long, event_id: Long, rn: Long,
    cusum: Long, flag: Boolean)

  /** Streaming twin of the batch CUSUM detector (q246): per key, the
    * first `baselineN` readings accumulate an exact baseline sum s0;
    * each later reading folds d = 20*baselineN*cents - 30*s0 into the
    * reflected prefix walk S = pfx - min(prefix pfx) and flags when
    * S > thresholdX*s0 — BIT-IDENTICAL to the batch window form
    * (asserted in StreamingSpec) because every quantity is a BIGINT and
    * the fold order is the event-time order on both sides.
    *
    * State is O(1) per key (4 longs) — the whole point of CUSUM as a
    * streaming operator: regime-shift detection over unbounded history
    * with bounded state, where the batch form re-scans the stream.
    * Rows must arrive per-key in event-time order ACROSS micro-batches
    * (a replayed log does; out-of-order sources need the watermark
    * dedup/sort upstream) — WITHIN a micro-batch the group iterator is
    * sorted here before folding. Input columns: user_id, t (event-time
    * micros), event_id, cents. */
  def cusumDetector(events: DataFrame, baselineN: Int = 20,
                    thresholdX: Long = 200L): DataFrame = {
    import events.sparkSession.implicits._
    val byUser = events
      .select(col("user_id").cast("long"), col("t").cast("long"),
        col("event_id").cast("long"), col("cents").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
    byUser.flatMapGroupsWithState(OutputMode.Append(),
      GroupStateTimeout.NoTimeout()) {
      (uid: Long, it: Iterator[(Long, Long, Long, Long)],
       state: GroupState[CusumState]) =>
        var s = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[CusumFlag]
        it.toIndexedSeq.sortBy(e => (e._2, e._3)).foreach { e =>
          val n = s.nSeen + 1
          if (n <= baselineN) s = CusumState(n, s.s0 + e._4, 0L, 0L)
          else {
            val d = 20L * baselineN * e._4 - 30L * s.s0
            val pfx = s.pfx + d
            val runmin = math.min(s.runmin, pfx)
            s = s.copy(nSeen = n, pfx = pfx, runmin = runmin)
            out += CusumFlag(uid, e._3, n, pfx - runmin,
              pfx - runmin > thresholdX * s.s0)
          }
        }
        state.update(s)
        out.iterator
    }.toDF()
  }

  /** Corpus-ingest quality router — the training-data quality filter run
    * AS documents arrive (the streaming face of the batch curation chain,
    * q42): the native one-pass metric kernel scores each document, keeps
    * or rejects against `minQuality`, and attaches the reject reason for
    * the reject topic/DLQ. Pure per-row expressions — stateless, no
    * watermark, identical semantics on batch and stream (the spec pins
    * stream output to the batch expression). At 100 TB this is the
    * filter you want BEFORE anything stateful: rejected documents never
    * enter the dedup/index pipelines at all. */
  def qualityRouter(docs: DataFrame, textCol: String = "text",
                    minQuality: Int = 50): DataFrame = {
    val m = graft.operators.TextOps.textMetrics(col(textCol))
    docs.withColumn("__m", m)
      .withColumn("quality_score", col("__m.quality_score"))
      .withColumn("lang", col("__m.lang"))
      .withColumn("keep", col("quality_score") >= minQuality)
      .withColumn("reject_reason",
        when(col("keep"), lit(null).cast("string"))
          .otherwise(lit(s"quality_below_$minQuality")))
      .drop("__m")
  }

  /** Streaming exact dedup on event id within the watermark horizon —
    * upstream at-least-once delivery (Kafka producer retries) becomes
    * exactly-once before any stateful aggregation sees the events. State is
    * bounded: ids older than the watermark are evicted, unlike a naive
    * dropDuplicates whose state grows forever. */
  def dedupEvents(parsed: DataFrame, idCol: String = "event_id",
                  watermark: String = "10 minutes"): DataFrame =
    parsed
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming NEAR-duplicate corpus ingestion over the persisted LSH
    * bucket table ([[graft.operators.Dedup.writeBucketTable]]) — the
    * near-dup completion of the exact-digest micro-batch dedup pattern.
    * Per micro-batch: (1) collapse near-dup clusters WITHIN the batch
    * (MinHash pairs -> CC -> keep-min — micro-batches are trigger-bounded,
    * so the per-batch CC is tiny); (2) drop rows that near-dup the
    * maintained index, reading (id, band, bucket) + shingle parquet
    * instead of re-signaturing the corpus; (3) upsert survivors into the
    * corpus table and append their signatures to the index stamped with
    * the batch id.
    *
    * Exactly-once: offsets are checkpointed; the corpus write is an
    * idempotent keyed upsert; index appends are at-least-once but reads
    * dedup; and the `ingest < batchId` filter makes a REPLAYED batch see
    * exactly the index state the original attempt saw (its own partially
    * appended rows are invisible, so it cannot drop itself as its own
    * near-duplicate) — the drop decision, and hence the corpus, is
    * replay-identical. The index table must exist: call
    * `Dedup.writeBucketTable` on the seed corpus (possibly empty) first;
    * its hash-family meta then governs the index appends, while
    * `threshold` governs both drop decisions. */
  def nearDupIngestSink(docs: DataFrame, corpusPath: String, indexPath: String,
                        checkpoint: String, idCol: String = "doc_id",
                        textCol: String = "text",
                        threshold: Double = 0.8): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{Checkpoints, Dedup}
        val withinKept = Dedup.dropNearDuplicates(batch, idCol, textCol, threshold)
        val fresh = Dedup.dropAgainstBucketTable(withinKept, indexPath, idCol,
            textCol, threshold, beforeIngest = Some(batchId))
          .transform(Checkpoints.ckpt) // two consumers: upsert + index append
        Upsert.upsertParquet(corpusPath, fresh, Seq(idCol), idCol)
        Dedup.appendToBucketTable(fresh, indexPath, idCol, textCol,
          ingestStamp = batchId)
      }

  /** Per-micro-batch distribution-drift monitor
    * ([[graft.operators.TextOps.klDriftAgainst]] with the FROZEN
    * reference corpus): each batch's hashed-bucket token distribution is
    * scored against the training corpus's, and (batch_id, n_tokens,
    * kl_div) is upserted into a monitoring table — the alarm feed that
    * catches a drifting source before the next training run consumes it.
    * The reference distribution is re-read per batch from `referencePath`
    * (bounded: one bucket agg of a static table; cache the parquet table
    * small or precompute its (bucket, count) frame at a maintenance
    * cadence if the reference is 100 TB). Exactly-once: the upsert is
    * keyed on batch_id — a replayed batch overwrites itself with the
    * identical deterministic score. */
  def klDriftSink(docs: DataFrame, referencePath: String, outPath: String,
                  checkpoint: String, textCol: String = "text",
                  numBuckets: Int = 512, seed: Int = 11): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val scored = graft.operators.TextOps.klDriftAgainst(
          batch.withColumn("batch_id", lit(batchId)),
          spark.read.parquet(referencePath),
          "batch_id", textCol, numBuckets, seed)
        Upsert.upsertParquet(outPath, scored, Seq("batch_id"), "batch_id")
      }

  /** Streaming SPAN (paragraph) dedup ingestion over the persisted span
    * digest table ([[graft.operators.Dedup.writeSpanDigestTable]]): per
    * micro-batch, spans the corpus has ever seen are dropped, the batch
    * keep-firsts within itself, reassembled documents (idCol, n_spans,
    * n_spans_kept, text_dedup) are upserted, and the batch's span digests
    * are appended stamped with the batch id. Exactly-once by the same
    * argument as [[nearDupIngestSink]]: `ingest < batchId` replays the
    * original drop decision, the upsert is idempotent, digest appends are
    * at-least-once into an anti-join (duplicates harmless).
    * `spans` is the span expression over the batch's columns (paragraph
    * split, line split, token windows — the batch operator's contract). */
  def spanDedupIngestSink(docs: DataFrame, outPath: String, digestPath: String,
                          checkpoint: String, spans: Column,
                          idCol: String = "doc_id",
                          joiner: String = " "): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{Checkpoints, Dedup}
        val deduped = Dedup.dropSpansAgainstDigestTable(batch, digestPath,
            idCol, spans, joiner, beforeIngest = Some(batchId))
          .transform(Checkpoints.ckpt) // consumed by upsert; digests come
                                       // from the RAW batch (cheaper + the
                                       // dropped spans are already tabled)
        Upsert.upsertParquet(outPath, deduped, Seq(idCol), idCol)
        Dedup.appendToSpanDigestTable(batch, digestPath, spans,
          ingestStamp = batchId)
      }

  /** Streaming WINNOWING ingestion over the persisted fingerprint table
    * ([[graft.operators.Winnow.writeFingerprintTable]]) — the
    * substring-granular member of the streaming ingest family: per
    * micro-batch, docs substantially overlapping the ingested corpus
    * (>= `minShared` shared fingerprints at >= `minOverlap` containment)
    * are dropped, survivors are upserted, and their fingerprints are
    * appended stamped with the batch id. Exactly-once by the
    * [[nearDupIngestSink]] argument: `ingest < batchId` makes a replayed
    * batch see exactly the table state the original attempt saw (its own
    * partial appends invisible — it cannot drop itself), the corpus
    * upsert is idempotent, and fingerprint appends are at-least-once
    * into reads that tolerate duplicates (overlapAgainstTable
    * DISTINCTs). The fingerprint table must exist (seed it, possibly
    * empty, with writeFingerprintTable); its frozen (k, w, seed) meta
    * governs both the drop probes and the appends. */
  def winnowIngestSink(docs: DataFrame, corpusPath: String, tablePath: String,
                       checkpoint: String, idCol: String = "doc_id",
                       textCol: String = "text", minShared: Int = 3,
                       minOverlap: Double = 0.5): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.{Checkpoints, Winnow}
        // within-batch self-overlap first (keep-min-id), then the table
        val selfHits = Winnow.overlapReport(batch, idCol, textCol,
            minShared = minShared)
          .filter(col("overlap") >= minOverlap)
          .select(col("id_b").as(idCol)).distinct()
        val within = batch.join(selfHits, Seq(idCol), "left_anti")
        val fresh = Winnow.dropAgainstTable(within, tablePath, idCol, textCol,
            minShared, minOverlap, beforeIngest = Some(batchId))
          .transform(Checkpoints.ckpt) // consumers: upsert + fp append
        Upsert.upsertParquet(corpusPath, fresh, Seq(idCol), idCol)
        Winnow.appendToFingerprintTable(fresh, tablePath, idCol, textCol,
          ingestStamp = batchId)
      }

  /** Streaming IVF INGESTION over the persisted index
    * ([[graft.operators.Knn.ivfSave]]/[[graft.operators.Knn.ivfLoad]]) —
    * the ANN completion of the streaming ingest family (exact digests,
    * near-dup buckets, span digests, now vectors): per micro-batch,
    * assign the batch to the index's existing centroids ([[graft.operators.Knn.ivfAdd]])
    * and durably upsert the new list rows into `indexPath/lists` keyed on
    * the vector id.
    *
    * Exactly-once: the lists write is an idempotent keyed upsert
    * (assignments are deterministic, so a replayed batch re-upserts
    * byte-identical rows); centroids are immutable after the seed save.
    * The in-memory index handle is reloaded lazily per restart, not per
    * batch — batches between restarts pay only the batch-sized
    * assignment + the upsert. Centroids do NOT drift with appended data;
    * rebuild via [[graft.operators.Knn.ivfIndexKMeans]] + ivfSave on a
    * maintenance cadence (docs/DEPLOY.md). Index must exist: seed with
    * ivfSave (possibly over a small bootstrap corpus) first. */
  def ivfIngestSink(vecs: DataFrame, indexPath: String, checkpoint: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataStreamWriter[Row] = {
    // one handle per query run; restart reloads from the durable path
    var index: graft.operators.Knn.IvfIndex = null
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        if (index == null) index = graft.operators.Knn.ivfLoad(spark, indexPath)
        index = graft.operators.Knn.ivfAdd(index, batch, idCol, vecCol,
          dedupIds = true)
        // durable side: idempotent keyed upsert of ONLY this batch's rows
        // (the in-memory handle already holds the merged lists)
        Upsert.upsertParquet(s"$indexPath/lists",
          index.lists.join(batch.select(col(idCol).as("__bid")),
            col("neighbor_id") === col("__bid"), "left_semi"),
          Seq("neighbor_id"), "neighbor_id")
      }
  }

  /** Streaming covariance-moments ingestion over the PERSISTED moments
    * table ([[graft.operators.Embeddings.appendMoments]]): each
    * micro-batch appends its bounded (d(d+1)/2 + d + 1)-row exact-DECIMAL
    * stats frame stamped with the micro-batch id —
    * [[graft.operators.Embeddings.covarianceFromTable]] then finalizes
    * the corpus-wide covariance at read time without ever rescanning
    * history. Exactly-once by construction: Structured Streaming replays
    * a failed micro-batch under the SAME batchId, the batch's stats rows
    * are a pure function of its data, and the read side drops duplicate
    * (batch_id, kind, i, j) rows — so a replayed append is byte-identical
    * and absorbed (the q208 proof, streamed). Null vectors are dropped by
    * the stats pass itself. */
  def momentsIngestSink(vecs: DataFrame, tablePath: String,
                        checkpoint: String,
                        vecCol: String = "embedding"): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Embeddings.appendMoments(batch, vecCol, tablePath,
          batchId = s"stream-$batchId")
      }

  /** Streaming histogram-quantile ingestion over the PERSISTED histogram
    * table ([[graft.operators.Sketch.appendHistogram]]): each micro-batch
    * appends its bounded (bin, cnt) frame stamped with the micro-batch
    * id; [[graft.operators.Sketch.histogramQuantilesFromTable]] then
    * serves corpus-wide quantiles at read time. Exactly-once by the
    * [[momentsIngestSink]] argument: replayed micro-batches re-append
    * byte-identical rows under the same id and the read side dedups
    * (batch_id, bin). `centsCol` is the integer cents expression over
    * the batch's columns (the batch operator's contract). */
  def histogramIngestSink(rows: DataFrame, centsCol: Column,
                          binWidthCents: Long, tablePath: String,
                          checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketch.appendHistogram(batch, centsCol,
          binWidthCents, tablePath, batchId = s"stream-$batchId")
      }

  /** Streaming PER-GROUP histogram ingestion over the persisted grouped
    * table ([[graft.operators.Robust.appendGroupedHistogram]], r13):
    * each micro-batch appends its bounded (g, bin, cnt) frame stamped
    * with the micro-batch id;
    * [[graft.operators.Robust.groupedQuantilesFromTable]] then serves
    * per-source quantiles at read time without rescanning the stream's
    * history — the [[histogramIngestSink]] promise per group.
    * Exactly-once by the [[momentsIngestSink]] argument: a replayed
    * micro-batch re-appends byte-identical rows under the same id and
    * the read side dedups (batch_id, g, bin). */
  def groupedHistogramIngestSink(rows: DataFrame, groupCol: String,
                                 valueCol: String, binWidth: Long,
                                 tablePath: String,
                                 checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Robust.appendGroupedHistogram(batch, groupCol,
          valueCol, binWidth, tablePath, batchId = s"stream-$batchId")
      }

  /** Streaming CMS ingestion over the PERSISTED counter table
    * ([[graft.operators.Sketch.appendCmsCounters]]): per micro-batch one
    * bounded (depth, bucket, cnt) append; heavy-hitter probes run
    * against the table without rescanning the stream's history.
    * Exactly-once by the [[momentsIngestSink]] argument (micro-batch id
    * = replay-dedup key). `valueCol` is the occurrence column of the
    * batch (one row per occurrence, the batch operator's contract). */
  def cmsIngestSink(occurrences: DataFrame, valueCol: String,
                    tablePath: String, checkpoint: String, depth: Int = 4,
                    width: Int = 1024,
                    portable: Boolean = false): DataStreamWriter[Row] =
    occurrences.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketch.appendCmsCounters(batch, valueCol, tablePath,
          batchId = s"stream-$batchId", depth, width, portable)
      }

  /** Streaming HLL ingestion over the PERSISTED register table
    * ([[graft.operators.Sketch.appendHllRegisters]]): per micro-batch one
    * bounded register append; the corpus-wide distinct estimate reads
    * from the table (bucket-wise max — idempotent, so replays are doubly
    * harmless). */
  def hllIngestSink(rows: DataFrame, valueCol: String, tablePath: String,
                    checkpoint: String, p: Int = 12, seed: Int = 7,
                    portable: Boolean = false): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketch.appendHllRegisters(batch, valueCol, tablePath,
          batchId = s"stream-$batchId", p, seed, portable)
      }

  /** Streaming Bloom ingestion over the PERSISTED bit table
    * ([[graft.operators.Sketch.appendBloomBits]]): per micro-batch one
    * bounded set-bit append; membership probes (incremental-dedup
    * pre-filtering) run against the table without rescanning the
    * stream's history. Exactly-once by the [[momentsIngestSink]]
    * argument (micro-batch id = replay-dedup key), and OR-merge is
    * idempotent besides — a replayed append could not flip a bit
    * back even un-deduped. */
  def bloomIngestSink(rows: DataFrame, valueCol: String, tablePath: String,
                      checkpoint: String, mBits: Int = 1 << 16,
                      numHashes: Int = 4,
                      portable: Boolean = false): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketch.appendBloomBits(batch, valueCol, tablePath,
          batchId = s"stream-$batchId", mBits, numHashes, portable)
      }

  /** Streaming profile ingestion over the PERSISTED column-profile
    * table ([[graft.operators.Sketch.appendColumnProfile]]): per
    * micro-batch one bounded append of base counts + HLL registers;
    * the running ANALYZE stats ([[graft.operators.Sketch
    * .columnProfileFromTable]]) read from the table without rescanning
    * the stream's history. Exactly-once by the [[momentsIngestSink]]
    * argument — the SUM-merged count rows make the micro-batch-id
    * replay dedup load-bearing here (unlike the idempotent register
    * half). */
  def profileIngestSink(rows: DataFrame, cols: Seq[String],
                        tablePath: String, checkpoint: String,
                        p: Int = 12, seed: Int = 7,
                        portable: Boolean = false): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketch.appendColumnProfile(batch, cols, tablePath,
          batchId = s"stream-$batchId", p, seed, portable)
      }

  /** Streaming ingestion into a SNAPSHOT-VERSIONED table
    * ([[graft.etl.Versioned.append]] keyed on the micro-batch id): each
    * micro-batch is one atomic manifest commit, and a replayed batch
    * (crash between data write and publish, checkpoint restart) finds
    * its key already committed and no-ops — exactly-once at the COMMIT
    * level with no read-side dedup required, plus half-append
    * invisibility and time travel over the stream's history. The
    * strongest of the three streaming-sink idempotence rungs (read-side
    * dedup < idempotent merge < transactional commit). */
  def versionedIngestSink(rows: DataFrame, root: String,
                          checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.etl.Versioned.append(batch, root, key = Some(s"stream-$batchId"))
        ()
      }

  /** Streaming materialized-view maintenance over the persisted rollup
    * table ([[graft.operators.Rollup]]): each micro-batch appends its
    * bounded per-key delta frame stamped with the micro-batch id;
    * [[graft.operators.Rollup.rollupFromTable]] serves the maintained
    * aggregate at read time, equal to a full recompute of everything
    * ever ingested. Exactly-once by the [[momentsIngestSink]] argument:
    * a replayed micro-batch re-appends byte-identical delta rows under
    * the same id and the read-side fold dedups (batch_id, keys). The
    * base table is never rescanned — q256's change-feed maintenance
    * with the stream driving the deltas instead of table commits. */
  def rollupIngestSink(rows: DataFrame, keyCols: Seq[String],
                       countName: String, sumCols: Map[String, String],
                       minCols: Map[String, String],
                       maxCols: Map[String, String], tablePath: String,
                       checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Rollup.appendRollup(batch, keyCols, countName,
          sumCols, minCols, maxCols, tablePath, batchId = s"stream-$batchId")
      }

  /** ST-8: stream -> staging via foreachBatch reusing the batch upsert
    * (exactly-once: checkpointed offsets + idempotent merge on event_id).
    * Synthesizes event_id when missing like StagingProgressWriter
    * (streaming.py:160-168). */
  def stagingSink(cleaned: DataFrame, stagingPath: String,
                  checkpoint: String): DataStreamWriter[Row] = {
    val withId = cleaned.withColumn("event_id",
      coalesce(col("event_id"),
        concat(lit("evt-"), abs(xxhash64(col("student_id"), col("event_time"))))))
    withId.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.upsertParquet(stagingPath,
          batch.withColumn("__ord", monotonically_increasing_id()),
          Seq("event_id"), "__ord")
      }
  }
}
