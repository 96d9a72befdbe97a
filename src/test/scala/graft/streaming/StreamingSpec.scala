package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.operators.ParseStage
import graft.sources.Tables

/** Streaming pipeline == batch pipeline on a finite input (memory sink,
  * processAllAvailable).
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Tables.writer(spark.createDataset(Tables.localTurns(2000))).mode("overwrite").parquet(d)
    d
  }

  test("streaming windowed status counts equal the batch aggregation") {
    val stream = StreamingPipeline.readTranscriptStream(spark, dir)
    val q = StreamingPipeline.windowedStatusCounts(stream)
      .writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("win_counts").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

    val batch = ParseStage.parse(spark.read.parquet(dir))
      .groupBy(window(col("log_ts"), "10 minutes"), col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start"), col("status"), col("cnt"), col("bytes"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

    assert(streamed == batch)
  }

  test("streaming counter ticks: deltas per batch, final snapshot equals the batch counter (A3)") {
    import graft.app.CounterReport
    val stream = spark.readStream.schema(Tables.transcriptSchema)
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches = multiple ticks
      .parquet(dir)
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingPipeline.counterTicks(stream, r => reports.synchronized { reports += r })
    try q.processAllAvailable() finally q.stop()
    assert(reports.length > 1, "expected several ticks (one per micro-batch)")
    assert(!reports.head.contains("(+")) // first tick has no previous snapshot
    assert(reports.tail.exists(_.contains("(+"))) // later ticks render deltas
    // the last tick's cumulative totals == the one-shot batch snapshot
    val batchSnap = CounterReport.snapshot(
      ParseStage.parse(spark.read.parquet(dir)))
    val lastNoDelta = CounterReport.format(batchSnap, None)
    val lastTickTotals = reports.last.linesIterator
      .filter(_.startsWith("Total")).map(_.replaceAll("""\s*\(\+?-?\d+\)""", "")).toSeq
    val batchTotals = lastNoDelta.linesIterator.filter(_.startsWith("Total")).toSeq
    assert(lastTickTotals.map(_.trim) == batchTotals.map(_.trim))
  }

  test("log rotation: drain + reopen loses no rows (main.go:801-924 analog)") {
    // The reference tails a PATH: on fsnotify Rename/Remove it drains the old
    // handle, then reopens the recreated file (5×1s retries). The cluster
    // analog is a directory source where each rotation product arrives as a
    // NEW file: the drained tail (rows appended between the last poll and
    // the rename) lands in the rotated-away file, the reopened file carries
    // post-rotation rows. Contract under test: across
    // live-file → rotation(drain) → recreated-file, every row is ingested
    // exactly once.
    import spark.implicits._
    val turns = Tables.localTurns(800)
    val dir = java.nio.file.Files.createTempDirectory("graft-rotate").toString

    def addFile(name: String, rows: Seq[graft.model.TranscriptTurn]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-rotate-part").toString
      Tables.writer(spark.createDataset(rows).coalesce(1)).mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, name))
    }

    // phase 1: the live file
    addFile("access.parquet", turns.slice(0, 500))
    val stream = StreamingPipeline.readTranscriptStream(spark, dir)
    val q = stream.writeStream.format("memory").queryName("rotated")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("rotated").count() == 500)
      // phase 2: rotation — the drained tail arrives under the rotated name,
      // the recreated live file under the original-name successor
      addFile("access.parquet.1", turns.slice(500, 600)) // drain before close
      addFile("access-reopened.parquet", turns.slice(600, 800))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rotated").select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(got.length == 800, s"rows lost or doubled across rotation: ${got.length}")
    assert(got.distinct.length == 800)
    assert(got.toSet == turns.map(t => (t.conv_id, t.turn_idx)).toSet)
  }

  test("streaming metrics with accumulate sink: micro-batches sum to the batch table (R3 streaming mode)") {
    // The reference's real operating mode: stream the file, accumulate
    // metric increments into the DB (ReplaceExistingMetrics=false,
    // mysqldb.go:147-151). Spark shape: foreachBatch → read-merge-write.
    // Contract: after N micro-batches the sink equals one batch recompute.
    import graft.operators.{Aggregates, Sinks, TestOps}
    val out = java.nio.file.Files.createTempDirectory("graft-stream-acc").toString + "/metrics"
    val batchParsed = ParseStage.parse(spark.read.parquet(dir))
    val dim = TestOps.withDomainId(batchParsed).select("conv_id", "domain_id").distinct()
      .collect() // freeze the dimension so every micro-batch maps ids identically
    val dimDf = spark.createDataFrame(
      spark.sparkContext.parallelize(dim.toIndexedSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("domain_id", org.apache.spark.sql.types.IntegerType))))
    val stream = spark.readStream.schema(Tables.transcriptSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sinks.writeMetrics(Aggregates.metricRows(ParseStage.parse(batch)), dimDf, out, replace = false)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
      .collect().map(_.toSeq).toSet
    val full = Sinks.withDomainRows(Aggregates.metricRows(batchParsed), dimDf)
      .collect().map(_.toSeq).toSet
    assert(streamed == full)
  }

  test("stateful conversation progress tracks every conversation") {
    val stream = StreamingPipeline.readTranscriptStream(spark, dir)
    val q = StreamingPipeline.conversationProgress(spark, stream)
      .writeStream.format("memory").queryName("conv_progress").outputMode("update").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("conv_progress").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val expected = Tables.localTurns(2000).groupBy(_.conv_id)
      .map { case (c, ts) => c -> (ts.size.toLong, ts.map(_.turn_idx).max) }
    assert(got == expected)
  }
}
