package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.app.CounterReport
import graft.operators.ParseStage
import graft.sources.Tables

/** Structured Streaming face of the pipeline (SURVEY.md §2 S2/A8 streaming
  * analog): the same parse stage over `readStream`, with event-time tumbling
  * windows + watermark standing in for the reference's bounded out-of-order
  * window store (metrics/SBOMetrics.go:183-210 keeps `windowSize` windows per
  * key and drops older stragglers — a watermark of windowSize × windowMinutes
  * is the declarative equivalent).
  */
object StreamingPipeline {

  def readTranscriptStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(Tables.transcriptSchema).parquet(path)

  /** windowed status-code rates with watermark-bounded state */
  def windowedStatusCounts(stream: DataFrame, windowMinutes: Int = 10,
      watermarkWindows: Int = 3): DataFrame = {
    ParseStage.parse(stream)
      .withWatermark("log_ts", s"${watermarkWindows * windowMinutes} minutes")
      .groupBy(window(col("log_ts"), s"$windowMinutes minutes"), col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start").as("window_start"), col("status"), col("cnt"), col("bytes"))
  }

  /** A3 processing-time counter tick in streaming mode (counter.go:241-253):
    * each micro-batch's counts fold into the previous tick's snapshot, which
    * the driver keeps like the reference keeps its counters in process
    * memory: the totals, and the top `topN` keys per dimension that the
    * reference's ShrinkCounterMapLeavingTopN leaves (counter.go:286-324). A
    * report with (+delta) vs the PREVIOUS tick is emitted per batch — the
    * CounterValue.PreviousValue snapshot semantics (counter.go:49-56).
    * Returns the started query; stop it to end ticking.
    */
  def counterTicks(stream: DataFrame, onReport: String => Unit,
      topN: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    var acc: Option[CounterReport.Snapshot] = None
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val snap = CounterReport.snapshot(ParseStage.parse(batch), topN, acc)
        onReport(CounterReport.format(snap, acc))
        acc = Some(snap)
      }
      .start()
  }

  final case class ConvProgress(conv_id: String, turns: Long, maxTurnIdx: Int)

  /** custom per-conversation state via mapGroupsWithState — the per-file
    * running-counter analog (handlers/counter.go state), one state row per
    * conversation.
    */
  def conversationProgress(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream
      .selectExpr("conv_id", "turn_idx")
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (conv: String, rows: Iterator[(String, Int)], state: GroupState[ConvProgress]) =>
          val prev = state.getOption.getOrElse(ConvProgress(conv, 0L, -1))
          var n = prev.turns
          var mx = prev.maxTurnIdx
          rows.foreach { case (_, t) => n += 1; if (t > mx) mx = t }
          val next = ConvProgress(conv, n, mx)
          state.update(next)
          next
      }
      .toDF()
  }
}
