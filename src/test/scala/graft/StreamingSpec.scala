package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Stream

/** ST-1..ST-8 via MemoryStream (SURVEY §5.2-5): cleaning parity, stateful
  * per-student metrics + anomaly routing, windowed aggregations with
  * watermarks, DLQ parsing, and the foreachBatch staging upsert. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventJson(id: String, student: String, score: String,
                        duration: String = "60", t: String = "2024-02-01T10:00:00Z"): String =
    s"""{"event_id":"$id","student_id":"$student","score":$score,""" +
      s""""duration_seconds":"$duration","event_time":"$t","source":"test"}"""

  test("parseEvents routes unparseable payloads to DLQ instead of crashing") {
    val df = Seq(eventJson("e1", "STU001", "\"85\""), "{not json at all",
      """{"unrelated":"fields"}""").toDF("value")
    val parsed = Stream.parseEvents(df)
    assert(parsed.filter(col("is_dlq")).count() == 2)
    assert(parsed.filter(!col("is_dlq")).select("event_id").head().getString(0) == "e1")
  }

  test("cleanEvent clamps scores and flags unparseable ones (stream = batch rules)") {
    val df = Seq(("150", true), ("-3", true), ("abc", false), ("88.5", true))
      .toDF("score", "expect_valid")
    val got = Stream.cleanEvent(df).select("clean_score", "is_valid").collect()
    assert(got(0).getDouble(0) == 100.0 && got(0).getBoolean(1))
    assert(got(1).getDouble(0) == 0.0)
    assert(got(2).isNullAt(0) && !got(2).getBoolean(1))
    assert(got(3).getDouble(0) == 88.5 && got(3).getBoolean(1))
  }

  test("studentMetrics + alerts: error_rate > 0.2 routes to the alert stream") {
    val events = Seq(
      ("STU001", "60", "85"), ("STU001", "60", "junk"), ("STU001", "60", "junk"),
      ("STU002", "30", "90"), ("STU002", "30", "91"), ("STU002", "30", "92"),
      ("STU002", "30", "93"), ("STU002", "30", "94"),
      // non-numeric durations (the CSV's literal NULL, a typo) add 0
      // under ANSI instead of failing the query
      ("STU003", "NULL", "80"), ("STU003", "abc", "81"), ("STU003", "45", "82"))
      .toDF("student_id", "duration_seconds", "score")
    val metrics = Stream.studentMetrics(Stream.cleanEvent(events))
    val alerts = Stream.alerts(metrics).select("student_id").collect().map(_.getString(0))
    assert(alerts.toSeq == Seq("STU001"))
    val m1 = metrics.filter(col("student_id") === "STU001").head()
    assert(m1.getAs[Long]("event_count") == 3 && m1.getAs[Long]("error_count") == 2)
    assert(m1.getAs[Long]("total_duration") == 180)
    val m3 = metrics.filter(col("student_id") === "STU003").head()
    assert(m3.getAs[Long]("event_count") == 3 && m3.getAs[Long]("total_duration") == 45)
  }

  test("stateful per-student metrics over micro-batches accumulate across batches") {
    val input = MemoryStream[(String, String, String)](spark)
    val cleaned = Stream.cleanEvent(
      input.toDF().toDF("student_id", "duration_seconds", "score"))
    val q = Stream.statefulStudentMetrics(cleaned)
      .writeStream.format("memory").queryName("state_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(("STU001", "60", "85"), ("STU001", "30", "junk"))
      q.processAllAvailable()
      input.addData(("STU001", "10", "junk"))
      q.processAllAvailable()
      // non-numeric durations add 0 and fail no micro-batch under ANSI
      input.addData(("STU002", "NULL", "70"), ("STU002", "abc", "71"))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      val rows = spark.sql(
        "SELECT * FROM state_test WHERE student_id='STU001' ORDER BY event_count DESC")
        .collect()
      // latest state: 3 events, 100s, 2 errors -> rate 0.667 -> anomalous
      val last = rows.head
      assert(last.getAs[Long]("event_count") == 3)
      assert(last.getAs[Long]("total_duration") == 100)
      assert(last.getAs[Long]("error_count") == 2)
      assert(last.getAs[Boolean]("is_anomalous"))
      val stu2 = spark.sql("SELECT * FROM state_test WHERE student_id='STU002'").collect()
      assert(stu2.length == 1)
      assert(stu2.head.getAs[Long]("event_count") == 2)
      assert(stu2.head.getAs[Long]("total_duration") == 0)
    } finally q.stop()
  }

  test("per-minute tumbling windows with watermark produce per-student counts") {
    val input = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val ts = (m: Int, s: Int) => java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:$s%02d")
    val cleaned = Stream.cleanEvent(
        input.toDF().toDF("student_id", "event_time", "score"))
      .withColumn("duration_seconds", lit("60"))
    val q = Stream.perMinuteMetrics(cleaned)
      .writeStream.format("memory").queryName("win_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("STU001", ts(0, 10), "80"), ("STU001", ts(0, 50), "90"),
        ("STU001", ts(1, 10), "70"))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 10:01 windows
      input.addData(("STU002", ts(30, 0), "50"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start, events_per_minute, rolling_avg_score FROM win_test " +
        "WHERE student_id = 'STU001' ORDER BY window_start").collect()
      assert(got.length == 2)
      assert(got(0).getAs[Long]("events_per_minute") == 2)
      assert(got(0).getAs[Double]("rolling_avg_score") == 85.0)
      assert(got(1).getAs[Long]("events_per_minute") == 1)
    } finally q.stop()
  }

  test("session windows merge bursts, split on gaps, close at the watermark") {
    val input = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val ts = (m: Int, s: Int) => java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:$s%02d")
    val cleaned = Stream.cleanEvent(
        input.toDF().toDF("student_id", "event_time", "score"))
      .withColumn("duration_seconds", lit("60"))
    val q = Stream.sessionMetrics(cleaned, gap = "2 minutes")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst 1: 10:00:00, 10:01:00 (within gap -> one session);
      // burst 2 after a >2min silence: 10:05:00
      input.addData(("STU001", ts(0, 0), "80"), ("STU001", ts(1, 0), "90"),
        ("STU001", ts(5, 0), "70"))
      q.processAllAvailable()
      input.addData(("STU999", ts(40, 0), "50")) // advance the watermark
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT session_start, session_end, n_events, avg_score FROM sess_test " +
        "WHERE student_id = 'STU001' ORDER BY session_start").collect()
      assert(got.length == 2)
      assert(got(0).getAs[Long]("n_events") == 2)
      assert(got(0).getAs[Double]("avg_score") == 85.0)
      // session end = last event + gap
      assert(got(0).getAs[java.sql.Timestamp]("session_end") == ts(3, 0))
      assert(got(1).getAs[Long]("n_events") == 1)
      assert(got(1).getAs[java.sql.Timestamp]("session_start") == ts(5, 0))
    } finally q.stop()
  }

  test("streaming session sequences assemble in (ts, id) order across batches") {
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val ts = (m: Int, s: Int) =>
      java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:$s%02d")
    val q = Stream.sessionSequences(
        input.toDF().toDF("event_id", "ts", "user_id", "event_type"),
        "user_id", "ts", "event_type", "event_id", gap = "2 minutes")
      .writeStream.format("memory").queryName("seq_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // fragments arrive OUT of event-time order, across two micro-batches
      input.addData((2L, ts(1, 0), 7L, "click"), (1L, ts(0, 0), 7L, "view"))
      q.processAllAvailable()
      input.addData((3L, ts(1, 30), 7L, "purchase"))
      q.processAllAvailable()
      input.addData((9L, ts(40, 0), 99L, "view")) // advance watermark
      q.processAllAvailable()
      val got = spark.sql("SELECT n_events, event_seq FROM seq_test " +
        "WHERE user_id = 7").collect()
      assert(got.length == 1)
      assert(got.head.getLong(0) == 3)
      assert(got.head.getString(1) == "view click purchase")
    } finally q.stop()
  }

  test("streaming linear-count sketch estimates distinct students per window") {
    val input = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val ts = (m: Int, s: Int) => java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:$s%02d")
    val cleaned = Stream.cleanEvent(
        input.toDF().toDF("student_id", "event_time", "score"))
      .withColumn("duration_seconds", lit("60"))
    val q = Stream.activeStudentsSketch(cleaned, m = 4096)
      .writeStream.format("memory").queryName("sketch_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // 50 distinct students, several events each, inside 10:00-10:01
      val events = (1 to 50).flatMap(i =>
        Seq((f"STU$i%03d", ts(0, i % 60), "80"), (f"STU$i%03d", ts(1, i % 60), "90")))
      input.addData(events)
      q.processAllAvailable()
      // push the watermark far ahead to close every window the events touch
      input.addData(("STU999", ts(40, 0), "50"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT occupied, est_active FROM sketch_test " +
        "WHERE window_start = timestamp'2024-02-01 10:00:00'").collect()
      assert(got.length == 1)
      // 50 ids in 4096 buckets: collisions possible but bounded
      val occ = got.head.getAs[Long]("occupied")
      assert(occ >= 45 && occ <= 50, s"occupied $occ")
      val est = got.head.getAs[Double]("est_active")
      assert(math.abs(est - 50.0) < 5.0, s"estimate $est")
    } finally q.stop()
  }

  test("streaming HLL registers match the batch estimator per window") {
    val input = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val ts = (m: Int, s: Int) => java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:$s%02d")
    val cleaned = Stream.cleanEvent(
        input.toDF().toDF("student_id", "event_time", "score"))
      .withColumn("duration_seconds", lit("60"))
    val q = Stream.activeStudentsHll(cleaned, p = 12)
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val events = (1 to 60).flatMap(i =>
        Seq((f"STU$i%03d", ts(0, i % 60), "80"), (f"STU$i%03d", ts(1, i % 60), "90")))
      input.addData(events)
      q.processAllAvailable()
      input.addData(("STU999", ts(40, 0), "50"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT occupied, est_active FROM hll_stream_test " +
        "WHERE window_start = timestamp'2024-02-01 10:00:00'").collect()
      assert(got.length == 1)
      // the stream's estimate must EQUAL the batch operator's on the same
      // ids — same buckets, same registers, same estimator expression
      import spark.implicits._
      val batch = graft.operators.Sketch.hllDistinct(
          (1 to 60).map(i => f"STU$i%03d").toDF("student_id"), "student_id",
          p = 12)
        .collect().head
      assert(got.head.getAs[Long]("occupied") == batch.getAs[Long]("occupied"))
      assert(got.head.getAs[Double]("est_active") ==
        batch.getAs[Double]("est_distinct"))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events inside the horizon only") {
    val clicks = MemoryStream[(String, java.sql.Timestamp)](spark)
    val buys = MemoryStream[(String, java.sql.Timestamp)](spark)
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-03-01 09:$m%02d:00")
    val joined = Stream.intervalJoin(
      clicks.toDF().toDF("user", "left_time"),
      buys.toDF().toDF("user", "right_time"),
      "user", horizonMinutes = 10)
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(("u1", ts(0)), ("u2", ts(5)))
      buys.addData(
        ("u1", ts(4)),   // within u1's [09:00, 09:10] -> match
        ("u1", ts(20)),  // past the horizon -> no match
        ("u2", ts(3)),   // BEFORE u2's click -> no match
        ("u3", ts(6)))   // no click at all -> no match
      q.processAllAvailable()
      val got = spark.sql("SELECT user, right_time FROM ssj_test").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)))
      assert(got.toSeq == Seq(("u1", ts(4))))
    } finally q.stop()
  }

  test("rate-source simulator replays fixture rows with emit-time stamps (ST-1)") {
    val fixture = Seq(("e1", "STU001"), ("e2", "STU002"), ("e3", "STU003"))
      .toDF("event_id", "student_id")
    val stream = Stream.simulatedSource(fixture, rowsPerSecond = 100)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("sim_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // let the rate source tick a couple of seconds of data through
      val deadline = System.nanoTime() + 30L * 1000000000L
      var n = 0L
      while (n < 6 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM sim_test").head().getLong(0)
        if (n < 6) Thread.sleep(200)
      }
      assert(n >= 6) // fixture cycled at least twice
      val ids = spark.sql("SELECT DISTINCT event_id FROM sim_test")
        .collect().map(_.getString(0)).toSet
      assert(ids == Set("e1", "e2", "e3"))
      assert(spark.sql("SELECT count(*) FROM sim_test WHERE event_time IS NULL")
        .head().getLong(0) == 0)
    } finally q.stop()
  }

  test("batch CSV DLQ captures unparseable raw lines (ST-7 batch analogue)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dlq")
    val f = dir.resolve("bad.csv")
    java.nio.file.Files.writeString(f,
      "id,n\n1,10\n2,not_a_number\n3,30\n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, n INT")
    val (good, dlq) = graft.etl.Ingest.readCsvWithDlq(spark, f.toString, schema)
    assert(good.count() == 2)
    assert(dlq.count() == 1)
    assert(dlq.head().getAs[String]("raw_record").contains("not_a_number"))
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    val input = MemoryStream[(String, java.sql.Timestamp)](spark)
    val t0 = java.sql.Timestamp.valueOf("2024-02-01 10:00:00")
    val q = Stream.dedupEvents(input.toDF().toDF("event_id", "event_time"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("e1", t0), ("e2", t0), ("e1", t0)) // e1 redelivered
      q.processAllAvailable()
      input.addData(("e2", t0), ("e3", t0)) // e2 redelivered next batch
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_test")
        .collect().map(_.getString(0)).toSeq
      assert(ids.sorted == Seq("e1", "e2", "e3"))
    } finally q.stop()
  }

  test("JSON-lines ingestion splits good rows from the DLQ") {
    val dir = java.nio.file.Files.createTempDirectory("graft-json")
    val f = dir.resolve("events.jsonl")
    java.nio.file.Files.writeString(f,
      """{"event_id":"e1","score":85.5}
        |this is not json
        |{"event_id":"e2","score":"bad-type"}
        |{"event_id":"e3","score":70.0}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id STRING, score DOUBLE")
    val (good, dlq) = graft.etl.Ingest.readJsonWithDlq(spark, f.toString, schema)
    assert(good.count() == 2)
    assert(dlq.count() == 2)
  }

  test("external enrichment runs inside foreachBatch (batch/stream parity)") {
    // the same mapPartitions enrichment seam used in batch applies
    // unchanged to each micro-batch — one codebase for both paths
    import graft.operators.ExternalEnrichment
    val input = MemoryStream[(String, Double)](spark)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, String)]()
    val q = input.toDF().toDF("student_id", "completion")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ExternalEnrichment.enrich(batch)
          .select("student_id", "ai_risk_score", "ai_risk_category")
          .collect().foreach(r =>
            out.add((r.getString(0), r.getDouble(1), r.getString(2))))
      }.start()
    try {
      input.addData(("STU001", 10.0), ("STU002", 90.0))
      q.processAllAvailable()
      assert(out.toArray.toSet == Set(("STU001", 42.0, "Medium"), ("STU002", 42.0, "Medium")))
    } finally q.stop()
  }

  test("foreachBatch staging sink upserts micro-batches idempotently (ST-8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val input = MemoryStream[(String, String, String, java.sql.Timestamp)](spark)
    val cleaned = Stream.cleanEvent(input.toDF()
      .toDF("event_id", "student_id", "score", "event_time")
      .withColumn("duration_seconds", lit("60")))
    val q = Stream.stagingSink(cleaned, s"$dir/stg_progress", s"$dir/ckpt").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-02-01 10:00:00")
      input.addData(("e1", "STU001", "85", t0), ("e2", "STU002", "90", t0))
      q.processAllAvailable()
      input.addData(("e2", "STU002", "95", t0), ("e3", "STU003", "70", t0))
      q.processAllAvailable()
      val stg = spark.read.parquet(s"$dir/stg_progress")
      assert(stg.count() == 3) // e2 upserted, not duplicated
      assert(stg.filter(col("event_id") === "e2").head()
        .getAs[Double]("clean_score") == 95.0)
    } finally q.stop()
  }

  test("streaming corpus ingestion dedupes each micro-batch against everything ingested") {
    // the 100 TB ingestion pattern end-to-end: per micro-batch, keep-first
    // within the batch (markExactDuplicates), then digest-anti-join against
    // the corpus so far (dropAgainstExisting), then append — composing the
    // q13/q57 operators inside foreachBatch
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val path = s"$dir/docs"
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val withinBatch = graft.operators.Dedup.markExactDuplicates(batch, "text", "doc_id")
          .filter(!col("is_duplicate")).drop("is_duplicate")
        val fresh = scala.util.Try(batch.sparkSession.read.parquet(path)).toOption
          .map(corpus => graft.operators.Dedup.dropAgainstExisting(withinBatch, corpus, "text"))
          .getOrElse(withinBatch)
        fresh.write.mode("append").parquet(path)
        ()
      }
      .start()
    try {
      input.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      q.processAllAvailable()
      input.addData((4L, "beta doc"), (5L, "gamma doc"), (6L, "gamma doc"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(path)
      // 3 dropped within batch 1; 4 dropped vs corpus; 6 dropped within batch 2
      assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("streaming LINE scrub over the persisted line-df table == the batch operator") {
    // the q187 table is frozen corpus state, so the scrub is a pure
    // per-batch function — stream output must equal the batch operator
    // on the union of all micro-batches, whatever the batch boundaries
    val dir = java.nio.file.Files.createTempDirectory("graft-linestream").toString
    val footer = "all rights reserved"
    val corpus = Seq((1L, s"a one\n$footer"), (2L, s"b two\n$footer"),
      (3L, s"c three\n$footer")).toDF("doc_id", "text")
    graft.operators.Dedup.writeLineDfTable(corpus, s"$dir/idx", "doc_id", "text")

    val rows = Seq((11L, s"fresh alpha\n$footer"), (12L, "only new lines"),
      (13L, s"$footer\nfresh beta"))
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.dropFrequentLinesAgainstTable(batch,
            s"$dir/idx", "doc_id", "text", maxDf = 2)
          .write.mode("append").parquet(s"$dir/out")
        ()
      }
      .start()
    try {
      input.addData(rows(0), rows(1))
      q.processAllAvailable()
      input.addData(rows(2))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("text_clean"))).toSet
    val batch = graft.operators.Dedup.dropFrequentLinesAgainstTable(
        rows.toDF("doc_id", "text"), s"$dir/idx", "doc_id", "text", maxDf = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("text_clean"))).toSet
    assert(stream == batch)
    assert(stream.contains((11L, 1L, "fresh alpha")))
    assert(stream.contains((13L, 1L, "fresh beta")))
  }

  test("code-switch and lexicon-screen kernels are stateless: stream == batch per row") {
    val rows = Seq(
      (1L, "the and of to is the and of to is el la de que los el la de que los"),
      (2L, "bad worse bad worse bad stuff here"),
      (3L, "a perfectly ordinary clean document text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-kernelstream").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cs = graft.operators.TextOps.codeSwitchAudit(batch, "doc_id", "text")
        val lx = graft.operators.TextOps.lexiconScreen(batch, "doc_id", "text",
          Seq("bad", "worse"), maxPer1k = 20.0)
        cs.join(lx.select(col("doc_id"), col("flagged")), "doc_id")
          .write.mode("append").parquet(s"$dir/out")
        ()
      }
      .start()
    try {
      input.addData(rows(0), rows(1)); q.processAllAvailable()
      input.addData(rows(2)); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_switch"),
        r.getAs[Boolean]("flagged"))).toSet
    assert(stream == Set((1L, true, false), (2L, false, true),
      (3L, false, false)))
  }

  test("streaming WINNOWING ingestion over the persisted fingerprint table == the batch operators, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-winstream").toString
    val seed = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    graft.operators.Winnow.writeFingerprintTable(seed, s"$dir/idx",
      "doc_id", "text")

    val input = MemoryStream[(Long, String)](spark)
    def start() = Stream.winnowIngestSink(
      input.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/idx",
      s"$dir/ckpt", minShared = 1, minOverlap = 0.5).start()

    val batch1 = Seq(
      // embeds the seed's text inside new words -> substring overlap hit
      (10L, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
      (11L, "pack my box with five dozen liquor jugs right now"), // fresh
      (12L, "pack my box with five dozen liquor jugs right now")) // within-batch dup of 11
    val batch2 = Seq(
      (20L, "pack my box with five dozen liquor jugs right now"), // dup of 11
      (21L, "sphinx of black quartz judge my vow they all said")) // fresh

    val q1 = start()
    try {
      input.addData(batch1: _*); q1.processAllAvailable()
      input.addData(batch2: _*); q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: batch 3 dedups against seed +
    // batch-1 + batch-2 survivors
    input.addData(
      (30L, "sphinx of black quartz judge my vow they all said"), // dup of 21
      (31L, "completely new sentence about spark structured streaming"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == Set(11L, 21L, 31L))
  }

  test("streaming NEAR-dup ingestion over the persisted bucket table == the batch operators, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val seed = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeBucketTable(seed, s"$dir/idx", "doc_id", "text",
      shingleK = 3, numHashes = 16, bands = 4)

    val input = MemoryStream[(Long, String)](spark)
    def start() = Stream.nearDupIngestSink(
      input.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/idx",
      s"$dir/ckpt", threshold = 0.5).start()

    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of seed
      (11L, "pack my box with five dozen liquor jugs right now"),   // fresh
      (12L, "pack my box with five dozen liquor jugs right now"))   // within-batch dup of 11
    val batch2 = Seq(
      (20L, "pack my box with five dozen liquor jugs right now"),   // dup of 11 (batch 1)
      (21L, "sphinx of black quartz judge my vow they all said"))   // fresh

    val q1 = start()
    try {
      input.addData(batch1: _*); q1.processAllAvailable()
      input.addData(batch2: _*); q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: batch 3 must dedup against seed +
    // batch-1 + batch-2 survivors exactly as the batch operators would
    input.addData(
      (30L, "sphinx of black quartz judge my vow they all said"),   // dup of 21
      (31L, "completely new sentence about spark structured streaming"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet

    // the batch reference: fold the same micro-batches through the batch
    // operator family (within-batch near-dedup, then drop-vs-corpus)
    var corpus = seed
    for (b <- Seq(batch1, batch2,
        Seq((30L, "sphinx of black quartz judge my vow they all said"),
          (31L, "completely new sentence about spark structured streaming")))) {
      val bdf = b.toDF("doc_id", "text")
      val within = graft.operators.Dedup.dropNearDuplicates(bdf, "doc_id",
        "text", threshold = 0.5)
      val fresh = within.join(
        graft.operators.Dedup.minhashNearDupsAgainst(within, corpus, "doc_id",
            "text", threshold = 0.5, numHashes = 16, bands = 4) // the index's family
          .select(col("incoming_id").as("__m")).distinct(),
        col("doc_id") === col("__m"), "left_anti")
      corpus = corpus.unionByName(fresh)
    }
    val expected = corpus.select("doc_id").as[Long].collect().toSet - 1L // seed not in corpusPath
    assert(streamed == expected)
    assert(streamed == Set(11L, 21L, 31L))
  }

  test("streaming SPAN dedup ingestion over the persisted digest table == the batch operator") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spanstream").toString
    val spansOf = split(col("text"), "\\. ")
    val seed = Seq((1L, "common boilerplate header. seed body text"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeSpanDigestTable(seed, s"$dir/dg", spansOf)

    val input = MemoryStream[(Long, String)](spark)
    val q = Stream.spanDedupIngestSink(
      input.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/dg",
      s"$dir/ckpt", spansOf, joiner = ". ").start()
    try {
      input.addData(
        (10L, "common boilerplate header. alpha paragraph"),
        (11L, "alpha paragraph. beta paragraph"))
      q.processAllAvailable()
      input.addData((20L, "beta paragraph. gamma paragraph"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(s"$dir/out").orderBy("doc_id")
      .select("doc_id", "text_dedup").as[(Long, String)].collect().toSeq
    // header seen in seed; alpha keeps first occurrence (doc 10); beta
    // keeps at 11; batch 2's beta already tabled, gamma fresh
    assert(got == Seq((10L, "alpha paragraph"), (11L, "beta paragraph"),
      (20L, "gamma paragraph")))
  }

  test("streaming IVF ingestion over the persisted index: full probe == brute force, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfstream").toString
    val rnd = new scala.util.Random(19)
    val all = (0 until 120).map(i =>
      (i.toLong, Array.fill(12)((rnd.nextDouble() * 2 - 1).toFloat)))
    val seed = all.filter(_._1 < 60).toDF("vec_id", "embedding")
    graft.operators.Knn.ivfSave(
      graft.operators.Knn.ivfIndex(seed, nlist = 6), s"$dir/idx")

    val input = MemoryStream[(Long, Array[Float])](spark)
    def start() = Stream.ivfIngestSink(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/idx", s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData(all.filter(v => v._1 >= 60 && v._1 < 90): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint; the remaining batch arrives after
    val input2 = input // same stream, offsets resume
    input2.addData(all.filter(_._1 >= 90): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val loaded = graft.operators.Knn.ivfLoad(spark, s"$dir/idx")
    assert(loaded.lists.count() == 120)
    val corpus = all.toDF("vec_id", "embedding")
    val queries = all.take(5).toDF("vec_id", "embedding")
    val got = graft.operators.Knn.ivfSearch(loaded, queries, k = 4, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = graft.operators.Knn.bruteForceTopK(corpus, queries, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && got.nonEmpty)
    loaded.unpersist()
  }

  test("streaming moments ingestion: covariance from the table == one-shot batch, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-momstream").toString
    val rnd = new scala.util.Random(23)
    val all = (0 until 90).map(i =>
      (i.toLong, Array.fill(5)((rnd.nextDouble() * 2 - 1).toFloat)))

    val input = MemoryStream[(Long, Array[Float])](spark)
    def start() = Stream.momentsIngestSink(
      input.toDF().toDF("vec_id", "embedding"),
      s"$dir/moments", s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData(all.filter(_._1 < 40): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // data arriving while down, then a checkpointed restart — any replayed
    // micro-batch re-appends under the SAME batch id and dedups on read
    input.addData(all.filter(_._1 >= 40): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val fromTable = graft.operators.Embeddings
      .covarianceFromTable(spark, s"$dir/moments")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val oneShot = graft.operators.Embeddings
      .covariance(all.toDF("vec_id", "embedding"), "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(fromTable == oneShot && fromTable.size == 15) // d(d+1)/2, d = 5
  }

  test("streaming rollup maintenance: maintained read == one-shot batch, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rollstream").toString
    val all = (1 to 80).map(i =>
      (i.toLong, s"lang${i % 3}", s"src${i % 4}", (i * 7 % 100).toLong))
    val keys = Seq("lang", "source")
    val sums = Map("n_chars" -> "sum_chars")
    val mins = Map("doc_id" -> "min_id")
    val maxes = Map("doc_id" -> "max_id")

    val input = MemoryStream[(Long, String, String, Long)](spark)
    def start() = Stream.rollupIngestSink(
      input.toDF().toDF("doc_id", "lang", "source", "n_chars"),
      keys, "n_docs", sums, mins, maxes,
      s"$dir/rollup", s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData(all.filter(_._1 <= 40): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // data arriving while down, then a checkpointed restart — any replayed
    // micro-batch re-appends byte-identical delta rows under the SAME
    // batch id and the read-side fold dedups them
    input.addData(all.filter(_._1 > 40): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val maintained = graft.operators.Rollup
      .rollupFromTable(spark, s"$dir/rollup", keys, "n_docs",
        Seq("sum_chars"), Seq("min_id"), Seq("max_id"))
      .select(col("lang"), col("source"), col("n_docs"), col("sum_chars"),
        col("min_id"), col("max_id"))
      .collect().map(key).toMap
    val oneShot = all.toDF("doc_id", "lang", "source", "n_chars")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .collect().map(key).toMap
    assert(maintained == oneShot && maintained.size == 12)

    // compaction folds the per-batch deltas without changing a value
    graft.operators.Rollup.compactRollup(spark, s"$dir/rollup", keys,
      "n_docs", Seq("sum_chars"), Seq("min_id"), Seq("max_id"))
    val afterCompact = graft.operators.Rollup
      .rollupFromTable(spark, s"$dir/rollup", keys, "n_docs",
        Seq("sum_chars"), Seq("min_id"), Seq("max_id"))
      .select(col("lang"), col("source"), col("n_docs"), col("sum_chars"),
        col("min_id"), col("max_id"))
      .collect().map(key).toMap
    assert(afterCompact == oneShot)
  }

  test("change feed across a streaming restart: the delta is exactly the new wave") {
    val dir = java.nio.file.Files.createTempDirectory("graft-verfeed").toString
    val root = s"$dir/table"
    import graft.etl.Versioned

    val input = MemoryStream[(Long, String)](spark)
    def start() = Stream.versionedIngestSink(
      input.toDF().toDF("id", "v"), root, s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData((1L to 40L).map(i => (i, s"a$i")): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // a downstream consumer anchors on the pre-restart head...
    val anchor = Versioned.currentVersion(root)
    assert(anchor >= 1)
    input.addData((41L to 60L).map(i => (i, s"b$i")): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // ...and its incremental read sees exactly the second wave — the
    // stream's commits ARE the CDC surface, no extra bookkeeping
    val delta = Versioned.readChanges(spark, root, anchor)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(delta == (41L to 60L).toSet)
  }

  test("streaming histogram ingestion: quantiles from the table == one-shot batch, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-histstream").toString
    val all = (1 to 10000 by 100).flatMap(c => Seq.fill(3)(c.toLong))
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }

    val input = MemoryStream[(Long, Long)](spark)
    def start() = Stream.histogramIngestSink(
      input.toDF().toDF("id", "c"), col("c"), binWidthCents = 100L,
      s"$dir/hist", s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData(all.filter(_._1 < 150): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    input.addData(all.filter(_._1 >= 150): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val qsBp = Seq(5000, 9000, 9900)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(m(graft.operators.Sketch.histogramQuantilesFromTable(
        spark, s"$dir/hist", 100L, qsBp)) ==
      m(graft.operators.Sketch.histogramQuantiles(
        all.toDF("id", "c"), col("c"), 100L, qsBp)))
  }

  test("streaming grouped-histogram ingestion: per-group quantiles == one-shot, across a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ghiststream").toString
    val all = (0 until 600).map(i =>
      (i.toLong, s"s${i % 3}", ((i * 37) % 1000 + 1).toLong))

    val input = MemoryStream[(Long, String, Long)](spark)
    def start() = Stream.groupedHistogramIngestSink(
      input.toDF().toDF("id", "src", "v"), "src", "v", binWidth = 16L,
      s"$dir/ghist", s"$dir/ckpt").start()

    val q1 = start()
    try {
      input.addData(all.filter(_._1 < 250): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    input.addData(all.filter(_._1 >= 250): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the table fold must equal the one-shot per-group sketch over ALL
    // rows: replay the q388 oracle shape via a direct append of the
    // whole frame into a fresh table
    val oneShot = java.nio.file.Files.createTempDirectory("graft-ghistone").toString
    graft.operators.Robust.appendGroupedHistogram(
      all.toDF("id", "src", "v"), "src", "v", 16L, s"$oneShot/t", "all")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = m(graft.operators.Robust.groupedQuantilesFromTable(
      spark, s"$dir/ghist", 16L, Seq(5000, 9000)))
    val want = m(graft.operators.Robust.groupedQuantilesFromTable(
      spark, s"$oneShot/t", 16L, Seq(5000, 9000)))
    assert(got == want && got.keySet.map(_._1) == Set("s0", "s1", "s2"))
  }

  test("streaming CMS + HLL ingestion: table sketches == one-shot batch, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sketchstream").toString
    val all = (1 to 400).map(i => (i.toLong, s"tok${i % 23}"))

    val input = MemoryStream[(Long, String)](spark)
    def startCms() = Stream.cmsIngestSink(input.toDF().toDF("id", "v"), "v",
      s"$dir/cms", s"$dir/ckpt-cms", depth = 3, width = 64).start()
    val q1 = startCms()
    try { input.addData(all.filter(_._1 < 200): _*); q1.processAllAvailable() }
    finally q1.stop()
    input.addData(all.filter(_._1 >= 200): _*)
    val q2 = startCms()
    try q2.processAllAvailable() finally q2.stop()
    val occ = all.toDF("id", "v")
    val cand = occ.select(col("v")).distinct()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(m(graft.operators.Sketch.cmsHeavyHittersFromTable(spark,
        s"$dir/cms", cand, "v", k = 23, depth = 3, width = 64)) ==
      m(graft.operators.Sketch.cmsHeavyHitters(occ, "v", k = 23,
        depth = 3, width = 64)))

    val input2 = MemoryStream[(Long, String)](spark)
    def startHll() = Stream.hllIngestSink(input2.toDF().toDF("id", "v"), "v",
      s"$dir/hll", s"$dir/ckpt-hll", p = 8).start()
    val h1 = startHll()
    try { input2.addData(all.filter(_._1 < 200): _*); h1.processAllAvailable() }
    finally h1.stop()
    input2.addData(all.filter(_._1 >= 200): _*)
    val h2 = startHll()
    try h2.processAllAvailable() finally h2.stop()
    assert(graft.operators.Sketch.hllDistinctFromTable(spark, s"$dir/hll",
        p = 8).collect().head ==
      graft.operators.Sketch.hllDistinct(occ, "v", p = 8).collect().head)
  }

  test("streaming Bloom ingestion: table probe == one-shot batch, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomstream").toString
    val all = (1 to 400).map(i => (i.toLong, s"val${i % 211}"))

    val input = MemoryStream[(Long, String)](spark)
    def start() = Stream.bloomIngestSink(input.toDF().toDF("id", "v"), "v",
      s"$dir/bloom", s"$dir/ckpt-bloom", mBits = 1 << 12, numHashes = 3).start()
    val q1 = start()
    try { input.addData(all.filter(_._1 < 200): _*); q1.processAllAvailable() }
    finally q1.stop()
    // data arriving while the query is down, then a checkpointed restart
    input.addData(all.filter(_._1 >= 200): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = all.toDF("id", "v")
    val probe = (0 until 300).map(i => (i.toLong, s"val$i")).toDF("pid", "v")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val fromTable = m(graft.operators.Sketch.bloomProbeFromTable(spark,
      s"$dir/bloom", probe, "v", mBits = 1 << 12, numHashes = 3))
    assert(fromTable == m(graft.operators.Sketch.bloomProbe(probe, "v",
      graft.operators.Sketch.bloomBits(rows, "v", mBits = 1 << 12,
        numHashes = 3), mBits = 1 << 12, numHashes = 3)))
    assert((0 until 211).forall(i => fromTable(i.toLong)))
  }

  test("streaming profile ingestion: table profile == one-shot batch, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-profstream").toString
    val all = (1 to 400).map(i =>
      (i.toLong, s"cat${i % 7}", if (i % 5 == 0) null else s"v$i"))
    val cols = Seq("id", "cat", "sparse")

    val input = MemoryStream[(Long, String, String)](spark)
    def start() = Stream.profileIngestSink(
      input.toDF().toDF("id", "cat", "sparse"), cols,
      s"$dir/prof", s"$dir/ckpt-prof", p = 10).start()
    val q1 = start()
    try { input.addData(all.filter(_._1 < 200): _*); q1.processAllAvailable() }
    finally q1.stop()
    input.addData(all.filter(_._1 >= 200): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
          r.getDouble(5))).toMap
    assert(m(graft.operators.Sketch.columnProfileFromTable(spark,
        s"$dir/prof", p = 10)) ==
      m(graft.operators.Sketch.columnProfile(all.toDF("id", "cat", "sparse"),
        cols, p = 10)))
  }

  test("streaming versioned ingestion: one atomic commit per micro-batch, across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-verstream").toString
    val all = (1 to 100).map(i => (i.toLong, s"v$i"))

    val input = MemoryStream[(Long, String)](spark)
    def start() = Stream.versionedIngestSink(input.toDF().toDF("id", "v"),
      s"$dir/tbl", s"$dir/ckpt").start()
    val q1 = start()
    try { input.addData(all.filter(_._1 <= 60): _*); q1.processAllAvailable() }
    finally q1.stop()
    input.addData(all.filter(_._1 > 60): _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = graft.etl.Versioned.read(spark, s"$dir/tbl")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 100L).toSet)
    // every retained version carries its micro-batch commit key
    val root = s"$dir/tbl"
    assert(graft.etl.Versioned.versions(root).nonEmpty)
    assert(graft.etl.Versioned.versionForKey(root, "stream-0").isDefined)
  }

  test("staging sink survives a checkpointed restart exactly-once (ST-8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val input = MemoryStream[(String, String, String, java.sql.Timestamp)](spark)
    val cleaned = Stream.cleanEvent(input.toDF()
      .toDF("event_id", "student_id", "score", "event_time")
      .withColumn("duration_seconds", lit("60")))
    val t0 = java.sql.Timestamp.valueOf("2024-02-01 10:00:00")

    val q1 = Stream.stagingSink(cleaned, s"$dir/stg", s"$dir/ckpt").start()
    try {
      input.addData(("e1", "STU001", "85", t0), ("e2", "STU002", "90", t0))
      q1.processAllAvailable()
    } finally q1.stop()

    // data arriving while the query is down, then a restart from the same
    // checkpoint: offsets resume, the idempotent merge dedupes any replay
    input.addData(("e3", "STU003", "70", t0))
    val q2 = Stream.stagingSink(cleaned, s"$dir/stg", s"$dir/ckpt").start()
    try {
      input.addData(("e1", "STU001", "99", t0)) // late update for e1
      q2.processAllAvailable()
      val stg = spark.read.parquet(s"$dir/stg")
      assert(stg.count() == 3)
      assert(stg.select("event_id").collect().map(_.getString(0)).toSet ==
        Set("e1", "e2", "e3"))
      assert(stg.filter(col("event_id") === "e1").head()
        .getAs[Double]("clean_score") == 99.0)
    } finally q2.stop()
  }

  test("markup strip + line corrections + url audit run stateless on streams") {
    // the r7 cleanup kernels are pure per-row Column chains, so the same
    // operator call works on a streaming frame with identical results —
    // pinned here once for the three new ones (the q129/q128/q132 ops)
    val docs = Seq(
      (1L, "<p>First &amp; second</p>", "https://a.badsite.com/x"),
      (2L, "good line of words here\n42 07.\nmore good words here",
        "http://ok.example.org/y"))
    val input = MemoryStream[(Long, String, String)](spark)
    def textChain(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.lineCorrections(
        graft.operators.TextOps.stripMarkupDocs(df, "doc_id", "text")
          .withColumnRenamed("text_clean", "text"),
        "doc_id", "text")
    def urlChain(df: org.apache.spark.sql.DataFrame) =
      graft.operators.UrlOps.urlAudit(df.select("doc_id", "url"),
        "doc_id", "url", Seq("badsite.com"))
    val src = input.toDF().toDF("doc_id", "text", "url")
    val qt = textChain(src).writeStream.format("memory")
      .queryName("cleanup_text").outputMode(OutputMode.Append).start()
    val qu = urlChain(src).writeStream.format("memory")
      .queryName("cleanup_url").outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*)
      qt.processAllAvailable(); qu.processAllAvailable()
      val gotT = spark.table("cleanup_text")
        .select("doc_id", "text_clean", "n_dropped")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1)
      val wantT = textChain(docs.toDF("doc_id", "text", "url"))
        .select("doc_id", "text_clean", "n_dropped")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1)
      assert(gotT.toSeq == wantT.toSeq)
      val gotU = spark.table("cleanup_url")
        .select("doc_id", "domain", "blocked")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
        .sortBy(_._1)
      val wantU = urlChain(docs.toDF("doc_id", "text", "url"))
        .select("doc_id", "domain", "blocked")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
        .sortBy(_._1)
      assert(gotU.toSeq == wantU.toSeq)
      val u = gotU.map(g => g._1 -> (g._2, g._3)).toMap
      assert(gotT.head._2 == "First & second")
      assert(u(1L) == ("badsite.com", true))
      assert(gotT(1)._3 == 1 && !u(2L)._2)
    } finally { qt.stop(); qu.stop() }
  }

  test("KL drift sink: per-batch scores == batch operator, spam batch flagged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val reference = (1 to 50)
      .map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    reference.write.parquet(s"$dir/ref")
    val clean = (1 to 10).map(i =>
      (100L + i, "the quick brown fox jumps over the lazy dog"))
    val spam = (1 to 10).map(i => (200L + i, "buy cheap pills now " * 2))
    val input = MemoryStream[(Long, String)](spark)
    val q = Stream.klDriftSink(input.toDF().toDF("doc_id", "text"),
        s"$dir/ref", s"$dir/out", s"$dir/ckpt", numBuckets = 64)
      .start()
    try {
      input.addData(clean: _*); q.processAllAvailable()
      input.addData(spam: _*); q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.size == 2)
      // the spam batch diverges hard from the reference; the clean batch
      // IS the reference distribution (only smoothing noise)
      assert(got(1L) > 5 * got(0L), s"drift not flagged: $got")
      // stream score == the batch operator on the same slice + reference
      val want = graft.operators.TextOps.klDriftAgainst(
          spam.toDF("doc_id", "text").withColumn("batch_id", lit(1L)),
          spark.read.parquet(s"$dir/ref"), "batch_id", "text",
          numBuckets = 64)
        .collect().head.getDouble(2)
      assert(got(1L) == want)
    } finally q.stop()
  }

  test("quality router: stream output == batch expression, rejects reasoned") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog ran to the park today"),
      (2L, "!!! ??? ... ;;; :::"),
      (3L, ""))
    val input = MemoryStream[(Long, String)](spark)
    val routed = Stream.qualityRouter(
      input.toDF().toDF("doc_id", "text"), minQuality = 50)
    val q = routed.writeStream.format("memory")
      .queryName("quality_routed").outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("quality_routed")
        .select("doc_id", "quality_score", "keep", "reject_reason")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          Option(r.getString(3)))).sortBy(_._1)
      // batch twin: the SAME expression applied to a static frame
      val want = Stream.qualityRouter(docs.toDF("doc_id", "text"),
          minQuality = 50)
        .select("doc_id", "quality_score", "keep", "reject_reason")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          Option(r.getString(3)))).sortBy(_._1)
      assert(got.toSeq == want.toSeq)
      // the prose doc survives; punctuation soup and empty are rejected
      val byId = got.map(g => g._1 -> g).toMap
      assert(byId(1L)._3)
      assert(!byId(2L)._3 && byId(2L)._4.contains("quality_below_50"))
      assert(!byId(3L)._3)
    } finally q.stop()
  }

  test("streaming CUSUM == the batch window form, state carried across micro-batches") {
    import org.apache.spark.sql.expressions.Window
    // 2 users x 30 readings, a 3x level shift after reading 20; values
    // deterministic via a seeded RNG (test-local fixture, not a data path)
    val rnd = new scala.util.Random(11)
    val rows = for (u <- 1 to 2; i <- 1 to 30) yield
      (u.toLong, i.toLong * 1000L, (u * 1000 + i).toLong,
        (rnd.nextInt(5000) + 100).toLong * (if (i > 20) 3 else 1))
    // batch twin: the q246 window form with baselineN=5 (d uses
    // 20*baselineN = 100)
    val df = rows.toDF("user_id", "t", "event_id", "cents")
    val part = Window.partitionBy($"user_id")
    val ord = part.orderBy($"t", $"event_id")
    val prefix = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("rn", row_number().over(ord))
      .withColumn("s0", sum(when($"rn" <= 5, $"cents")).over(part))
      .withColumn("d", when($"rn" > 5,
        lit(100L) * $"cents" - lit(30L) * $"s0").otherwise(0L))
      .withColumn("pfx", sum($"d").over(prefix))
      .withColumn("runmin", min($"pfx").over(prefix))
      .filter($"rn" > 5)
      .select($"user_id", $"event_id", $"rn".cast("long"),
        ($"pfx" - $"runmin").as("cusum"),
        (($"pfx" - $"runmin") > lit(200L) * $"s0").as("flag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(expected.exists(_._5), "fixture must trip the alarm")
    val input = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = Stream.cusumDetector(
        input.toDF.toDF("user_id", "t", "event_id", "cents"), baselineN = 5)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      // feed in global time order, split into 4 micro-batches that cut
      // mid-baseline and mid-walk — state must carry across the cuts
      rows.sortBy(e => (e._2, e._3)).grouped(15).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("cusum_out")
        .select("user_id", "event_id", "rn", "cusum", "flag")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).toSet
      assert(got == expected)
    } finally q.stop()
  }
}
