package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{Ingest, Pipeline, Schemas, Sinks}
import graft.streaming.Stream

/** One EduFlow day end to end: the CSVs through `etl.Pipeline` to written
  * dims, facts, views and partitioned facts (the steps of graft.Main),
  * the progress CSV's malformed rows to a dead-letter table, and the
  * day's JSON events replayed through `Stream.parseEvents -> cleanEvent
  * -> studentMetrics` and `Stream.stagingSink` with `Trigger.AvailableNow`
  * from a fresh checkpoint. Every count the generator planted is checked
  * after the timed window. */
final class EduflowOp(plan: Plan) {
  import EduflowOp.Result
  private val planted = mutable.Map.empty[String, EduGen.Planted]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def in(tag: String) = new File(plan.work, s"in/$tag")
  private def out(tag: String) = new File(plan.work, s"out/$tag")

  def generate(day: Int, tag: String): Unit = {
    EduflowOp.delete(in(tag))
    planted(tag) = EduGen.day(plan.seed, day, in(tag))
  }

  /** The untimed warm day: same op, output checked, not recorded. */
  def warm(spark: SparkSession, tag: String): Unit = {
    val r = run(spark, "warm", tag, traced = false, new Spans, _ => ())
    checks += (("warm-day", r.error.isEmpty, r.error))
    if (r.error.nonEmpty) System.err.println(s"[perfbench] warm day FAILED: ${r.error}")
    cleanup(spark, tag)
  }

  def cleanup(spark: SparkSession, tag: String): Unit = {
    // the pipeline persists its staging frames and dims; a finished day
    // hands that memory back, like the end of a daily batch job
    try spark.catalog.clearCache() catch { case NonFatal(_) => () }
    EduflowOp.delete(in(tag)); EduflowOp.delete(out(tag))
  }

  def run(spark: SparkSession, id: String, tag: String, traced: Boolean, spans: Spans,
          group: String => Unit): Result = {
    val p = planted(tag)
    val inDir = in(tag).getAbsolutePath
    val outDir = out(tag).getAbsolutePath
    val layers = mutable.Map.empty[String, Double]
    val got = mutable.Map.empty[String, Long]
    val runIds = mutable.ArrayBuffer.empty[String]
    val root = spans.open(id, "op", None, traced)
    def step[T](layer: String, name: String)(body: => T): T = {
      group(layer)
      val h = spans.open(id, name, Some(root), traced)
      try body finally layers(name + "_s") = layers.getOrElse(name + "_s", 0.0) + spans.close(h)
    }
    val error =
      try {
        val pipe = step("ingest", "etl.ingest") {
          val pipe = Pipeline(spark, inDir, EduGen.date(p.day).toString)
          // the raw counts graft.Main logs in its run metadata
          got("students_raw") = pipe.rawStudents.count()
          got("progress_raw") = pipe.rawProgress.count()
          got("courses_raw") = pipe.rawCourses.count()
          got("tickets_raw") = pipe.rawTickets.count()
          val (_, dlq) = Ingest.readCsvWithDlq(spark, pipe.csv("student_progress"), Schemas.progress)
          dlq.write.mode("overwrite").parquet(s"$outDir/dlq_student_progress")
          pipe
        }
        step("clean", "etl.clean") {
          got("students_staged") = pipe.stagedStudents.count()
          got("progress_staged") = pipe.stagedProgress.count()
          got("tickets_staged") = pipe.stagedTickets.count()
        }
        step("warehouse", "etl.warehouse") {
          Seq("dim_date" -> pipe.dimDate, "dim_students" -> pipe.dimStudents,
            "dim_courses" -> pipe.dimCourses, "fact_support_tickets" -> pipe.factTickets,
            "fact_enrollments" -> pipe.factEnrollments)
            .foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$outDir/$n") }
        }
        step("views", "etl.views") {
          Seq("analytics_student360" -> pipe.student360,
            "analytics_course_performance" -> pipe.coursePerformance,
            "analytics_ai_insights" -> pipe.aiInsights)
            .foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$outDir/$n") }
        }
        step("sinks", "etl.sinks") {
          Sinks.writePartitionedFact(pipe.factProgress, s"$outDir/fact_student_progress")
          Sinks.writePartitionedFact(pipe.factDailyMetrics, s"$outDir/fact_daily_metrics")
        }
        step("streaming", "streaming") {
          def events = Stream.parseEvents(
            spark.readStream.option("maxFilesPerTrigger", 1L).text(s"$inDir/events"))
          def valid(parsed: DataFrame) = Stream.cleanEvent(parsed.filter(!col("is_dlq")))
          val staging = Stream.stagingSink(valid(events), s"$outDir/stg_stream_progress",
              s"$outDir/_checkpoints/staging")
            .trigger(Trigger.AvailableNow()).start()
          runIds += staging.runId.toString
          staging.awaitTermination()
          // the dead-letter count rides the metrics query, whose batches run
          // exactly once (the staging upsert reads its batch twice)
          val observed = events.observe("events", count(lit(1)).as("rows"),
            sum(when(col("is_dlq"), 1L).otherwise(0L)).as("dlq"))
          val metrics = Stream.studentMetrics(valid(observed)).writeStream
            .outputMode("complete")
            .option("checkpointLocation", s"$outDir/_checkpoints/metrics")
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(s"$outDir/stream_student_metrics")
            }.start()
          runIds += metrics.runId.toString
          metrics.awaitTermination()
          streamLayers(staging, metrics, layers, got)
        }
        ""
      } catch { case NonFatal(e) => Harness.describe(e) }
    val latency = spans.close(root)
    val checkErr = if (error.nonEmpty) error else verify(spark, p, outDir, got)
    if (checkErr.isEmpty) {
      layers("etl.rows_in") = (got("students_raw") + got("progress_raw") + got("courses_raw") +
        got("tickets_raw") + got("event_lines")).toDouble
      layers("etl.rows_staged") = (got("students_staged") + got("progress_staged") +
        got("tickets_staged") + got("stream_staged")).toDouble
      layers("etl.rows_dlq") = (got("progress_dlq") + got("events_dlq")).toDouble
      layers("etl.written_mb") = EduflowOp.bytes(out(tag)) / 1e6
    }
    Result(latency, checkErr, layers.toMap, runIds.toSeq)
  }

  /** Streaming layer numbers, read from the queries' own progress. */
  private def streamLayers(staging: StreamingQuery, metrics: StreamingQuery,
                           layers: mutable.Map[String, Double], got: mutable.Map[String, Long]): Unit = {
    val ps = staging.recentProgress.toSeq ++ metrics.recentProgress.toSeq
    val batches = ps.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val trig = batches.map(dur(_, "triggerExecution")).sorted
    layers("streaming.batches") = batches.size.toDouble
    layers("streaming.batch_s") = if (trig.isEmpty) 0.0 else trig(trig.size / 2)
    layers("streaming.rows_per_s") =
      batches.map(_.numInputRows).sum / math.max(trig.sum, 1e-9)
    layers("streaming.sink_s") = batches.map(dur(_, "addBatch")).sum
    val last = metrics.recentProgress.lastOption
    layers("streaming.state_rows") =
      last.flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0)
    val observed = metrics.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get("events")))
    got("event_lines") = observed.map(_.getAs[Long]("rows")).sum
    got("events_dlq") = observed.map(_.getAs[Long]("dlq")).sum
    got("state_rows") = layers("streaming.state_rows").toLong
    layers("streaming.dlq_rows") = got("events_dlq").toDouble
  }

  /** Every count the generator planted, against what graft produced. */
  private def verify(spark: SparkSession, p: EduGen.Planted, outDir: String,
                     got: mutable.Map[String, Long]): String = {
    def rows(t: String): Long = spark.read.parquet(s"$outDir/$t").count()
    try {
      got("progress_dlq") = rows("dlq_student_progress")
      got("stream_staged") = rows("stg_stream_progress")
      got("stream_metrics") = rows("stream_student_metrics")
      got("dim_students") = rows("dim_students")
      got("dim_courses") = rows("dim_courses")
      val want = Seq(
        "students_raw" -> p.studentsRaw, "students_staged" -> p.studentsStaged,
        "progress_raw" -> p.progressRaw, "progress_staged" -> p.progressStaged,
        "progress_dlq" -> p.progressDlq, "courses_raw" -> p.coursesRaw,
        "tickets_raw" -> p.ticketsRaw, "tickets_staged" -> p.ticketsStaged,
        "event_lines" -> p.eventLines, "events_dlq" -> p.eventsDlq,
        "stream_staged" -> p.eventsStaged, "state_rows" -> p.eventStudents,
        "stream_metrics" -> p.eventStudents, "dim_students" -> p.studentsStaged,
        "dim_courses" -> p.coursesRaw)
      want.collect { case (k, v) if got.get(k).contains(v) == false =>
        s"$k ${got.get(k).map(_.toString).getOrElse("missing")}, expected $v" }.mkString("; ")
    } catch { case NonFatal(e) => Harness.describe(e) }
  }
}

object EduflowOp {
  final case class Result(latencyS: Double, error: String, layers: Map[String, Double],
                          streamRunIds: Seq[String])

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getPath.contains("_checkpoints")) 0L
    else f.length
}
