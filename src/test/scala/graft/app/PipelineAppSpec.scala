package graft.app

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.TranscriptTurn
import graft.operators.{Aggregates, MetricsArrivalOrder, ParseStage}
import graft.oracle.RefOracle
import graft.sources.Tables

class PipelineAppSpec extends AnyFunSuite with SparkTestBase {

  /** the transcripts table is synthesized per scale-factor name */
  private val sf = "sf0.001"

  test("arrival-order metrics == batch sums on bounded-lateness data") {
    import spark.implicits._
    val turns = Tables.localTurns(2000)
    val parsed = ParseStage.parse(spark.createDataset(turns).toDF())
    val exact = MetricsArrivalOrder.metricRows(parsed).collect()
      .map(m => (m.conv_id, m.metric_type, Option(m.key_value), m.time_window) -> m.metric_value).toMap
    val batch = Aggregates.metricRows(parsed).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)), r.getLong(3)) -> r.getLong(4)).toMap
    assert(exact == batch)
  }

  test("arrival-order metrics match the oracle EXACTLY on adversarial straggler data") {
    import spark.implicits._
    // one conversation whose 40 turns jump forward 5 windows then send a
    // straggler from the distant past — crosses the eviction horizon, so
    // the late increment must be silently dropped (SBOMetrics.go:193-196)
    val base = 1763337600L
    def line(sec: Long, status: String) =
      s"""1.2.3.4 - - [${graft.sources.TranscriptGen.renderTs(sec)}] "GET / HTTP/1.1" $status 100 "-" "curl/8.5.0""""
    val turns = (0 until 40).map { i =>
      val sec = if (i == 30) base - 7200 else base + i * 600 // straggler at turn 30
      TranscriptTurn("adversarial-conv", i, "user", line(sec, "200"), "", new java.sql.Timestamp(sec * 1000))
    }
    val parsed = ParseStage.parse(spark.createDataset(turns).toDF())
    val exact = MetricsArrivalOrder.metricRows(parsed).collect()
      .map(m => (m.metric_type, Option(m.key_value), m.time_window) -> m.metric_value).toMap
    val oracle = RefOracle.metricRows(turns)
      .map(m => (m.metric_type, Option(m.key_value), m.time_window) -> m.metric_value).toMap
    assert(exact == oracle)
    // and the batch (order-insensitive) version DIFFERS here: it counts the straggler
    val batch = Aggregates.metricRows(parsed).collect()
      .map(r => (r.getInt(1), Option(r.getString(2)), r.getLong(3)) -> r.getLong(4)).toMap
    assert(batch != oracle)
    assert(batch.values.sum > oracle.values.sum) // straggler dropped by reference semantics
  }

  test("Pipeline.run with ArrivalOrderMetrics writes the oracle's arrival-order metrics") {
    import spark.implicits._
    // per conversation, turn i lands in window i; turn 30 straggles 4
    // windows back and turn 35 40 windows back: a 10-window state keeps the
    // first and drops the second, a 2-window state drops both
    val base = 1763337600L
    def line(sec: Long, status: String) =
      s"""1.2.3.4 - - [${graft.sources.TranscriptGen.renderTs(sec)}] "GET /a/b HTTP/1.1" $status 100 "-" "curl/8.5.0""""
    val turns = for (c <- 0 until 3; i <- 0 until 40) yield {
      val window = if (i == 30) 25 else if (i == 35) -5 else i
      val sec = base + window * 600 + c
      TranscriptTurn(s"straggler-$c", i, "user", line(sec, if (i % 7 == 0) "404" else "200"), "",
        new java.sql.Timestamp(sec * 1000))
    }
    val table = "straggler-local"
    Tables.writer(spark.createDataset(turns)).mode("overwrite").parquet(Tables.transcriptsPath(table))
    def key(conv: String, mt: Int, k: String, tw: Long) = (conv, mt, Option(k), tw)
    val sinks = Seq(2, 10).map { w =>
      val out = java.nio.file.Files.createTempDirectory(s"graft-arrival-$w").toString
      Pipeline.run(spark, table, out,
        JobConfig(handlers = Seq("METRICS"), metricsWindowSize = w, arrivalOrderMetrics = true))
      val written = spark.read.parquet(s"$out/metrics")
        .select("conv_id", "metric_type", "key_value", "time_window", "metric_value").collect()
        .map(r => key(r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)) -> r.getLong(4)).toMap
      val oracle = RefOracle.metricRows(turns, metricsWindowSize = w)
        .map(m => key(m.conv_id, m.metric_type, m.key_value, m.time_window) -> m.metric_value).toMap
      assert(written == oracle, s"MetricsWindowSize $w")
      written
    }
    assert(sinks(0) != sinks(1))
  }

  test("full pipeline run: sinks written, manifest idempotent, counter report formatted") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val r1 = Pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert(r1.rows == 6000)
    assert(r1.report.contains("Total log lines"))
    assert(r1.report.contains("-not set-")) // empty referer key rendering
    assert(new java.io.File(s"$out/metrics").exists())
    assert(new java.io.File(s"$out/rawlogs").exists())
    assert(new java.io.File(s"$out/relog").exists())
    // relog JSON carries Go field names incl. null UserAgent for CLF lines
    val relog = spark.read.textFile(s"$out/relog").collect()
    assert(relog.exists(_.contains(""""UserAgent":null""")))
    assert(relog.forall(_.contains(""""IsOutOfOrder":false""")))
    // resume: identical manifest, no rewrite
    val r2 = Pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert(r1.manifest == r2.manifest)
    // manifest carries per-(sink,bucket) lineage
    assert(r1.manifest.contains(""""bucket":"""))
    assert(r1.manifest.contains(""""checksum":"""))
  }

  test("metrics sink: key_value truncated to 100 chars, domain ids joined") {
    val out = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    Pipeline.run(spark, "/root/testdata/sf0.001", out)
    val m = spark.read.parquet(s"$out/metrics")
    assert(m.filter(length(col("key_value")) > 100).count() == 0)
    assert(m.filter(col("domain_id").isNull).count() == 0)
    // metric types present: all 12 live families (4=CLIENT_IP disabled)
    val types = m.select("metric_type").distinct().collect().map(_.getInt(0)).toSet
    assert(types == Set(1, 2, 3, 5, 6, 7, 11, 12, 13, 14, 15))
  }

  test("S3 start offset: N skips first N turns per conversation, -1 yields nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft-offset").toString
    val r = Pipeline.run(spark, "/root/testdata/sf0.001", out, JobConfig(startFrom = 5, handlers = Seq()))
    val total = Tables.localTurns(6000).count(_.turn_idx >= 5)
    assert(r.rows == total)
    val rEnd = Pipeline.run(spark, "/root/testdata/sf0.001",
      java.nio.file.Files.createTempDirectory("graft-offset2").toString,
      JobConfig(startFrom = -1, handlers = Seq()))
    assert(rEnd.rows == 0)
  }

  test("empty input with the default handlers: zero rows, every COUNTER total 0") {
    // seek-to-end leaves no rows; sum() over none is NULL, which the
    // counter pass must not read as a total (a streaming micro-batch with
    // no rows reaches the same snapshot)
    val r = Pipeline.run(spark, sf,
      java.nio.file.Files.createTempDirectory("graft-empty").toString, JobConfig(startFrom = -1))
    assert(r.rows == 0)
    Seq("Total log lines", "Total requests", "Total bytes sent", "Requests by humans",
      "Requests by non-humans", "Malicious requests").foreach { k =>
      assert(r.report.contains(f"$k%-22s: 0\n"), r.report)
    }
  }

  test("every fan-out file is in ascending (conv_id, turn_idx) order") {
    val out = java.nio.file.Files.createTempDirectory("graft-order").toString
    Pipeline.run(spark, sf, out)
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "routed", "data"))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val unordered = files.filter { f =>
      // one small file reads back as one split, in file order
      val keys = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
      keys != keys.sorted
    }
    assert(unordered.size == 0, s"${unordered.size} of ${files.size} files out of order")
  }

  test("one Pipeline.run launches at most 11 jobs and reads at most 6x its input records") {
    // a guard against a pass creeping back: each extra action over the
    // parsed table costs a job and a full read of the input; the
    // transcripts read infers no schema, so it launches none
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.run(spark, sf,
        java.nio.file.Files.createTempDirectory("graft-passes").toString)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val inputRecords = 6000L // sf0.001 transcripts
    assert(jobs.get <= 11, s"${jobs.get} jobs")
    assert(records.get <= 6 * inputRecords, s"${records.get} records read")
  }

  test("a rerun into the same outDir reads the input at most 5x and leaves routed/ untouched") {
    val out = java.nio.file.Files.createTempDirectory("graft-rerun").toString
    val first = Pipeline.run(spark, sf, out)
    def routedFiles(): Map[String, (Long, Long)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "routed"))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        f.toString -> (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally walk.close()
    }
    val before = routedFiles()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    val second =
      try {
        val r = Pipeline.run(spark, sf, out)
        TestBus.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    assert(second.manifest == first.manifest && second.rows == first.rows)
    assert(routedFiles() == before)
    // the fan-out's stats pass, COUNTER, metrics, relog and raw logs
    assert(records.get <= 5 * 6000L, s"${records.get} records read") // sf0.001 transcripts
  }

  test("TimeWindowSizeMinutes other than 1, 5, 15, 30 and 60 floors to 10, like the reference") {
    import spark.implicits._
    val sizes = Seq(1, 5, 10, 15, 30, 60, 0, 7, 20, 120, -5)
    val turns = Tables.localTurns(2000)
    val oracle = turns.flatMap { t =>
      graft.parse.LineParser.parseAuto(t.text).map(p =>
        (t.conv_id, t.turn_idx) -> sizes.map(RefOracle.timeWindow(p, _)))
    }.toMap
    val windows = ParseStage.parse(spark.createDataset(turns).toDF())
      .select(col("conv_id") +: col("turn_idx") +: sizes.map(w =>
        ParseStage.timeWindowCol(col("log_ts"), col("tz_offset_sec"), w)): _*)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> sizes.indices.map(i => r.getLong(i + 2))).toMap
    assert(windows == oracle)
    def metricsSink(size: Int) = {
      val out = java.nio.file.Files.createTempDirectory(s"graft-window-$size").toString
      Pipeline.run(spark, sf, out, JobConfig(handlers = Seq("METRICS"), timeWindowSizeMinutes = size))
      spark.read.parquet(s"$out/metrics").collect().map(_.toSeq).toSeq
        .groupMapReduce(identity)(_ => 1)(_ + _)
    }
    assert(metricsSink(7) == metricsSink(10))
  }

  test("metrics sink: a conversation with two domains gets a row per domain, ids by first sight") {
    import graft.operators.{Sinks, TestOps}
    import spark.implicits._
    // generated conversations keep one vhost domain; here every third
    // conversation's odd turns carry a second one (a vhost line swaps its
    // domain, any other line with a trailing quoted field gains one)
    val second = "second.example.com"
    val turns = Tables.localTurns(2000).map { t =>
      val (c, rest) = t.text.span(_ != ' ')
      val text =
        if (t.conv_id.takeRight(1).toInt % 3 != 0 || t.turn_idx % 2 == 0) t.text
        else if (graft.sources.TranscriptGen.domainPool.contains(c)) second + rest
        else if (t.text.endsWith("\"")) s"$second ${t.text}"
        else t.text
      t.copy(text = text)
    }
    val table = "two-domain-local"
    Tables.writer(spark.createDataset(turns)).mode("overwrite").parquet(Tables.transcriptsPath(table))
    val out = java.nio.file.Files.createTempDirectory("graft-two-domains").toString
    Pipeline.run(spark, table, out)
    val cols = Seq("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
    val written = spark.read.parquet(s"$out/metrics").select(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq

    val parsed = ParseStage.parse(Tables.transcripts(spark, table))
    val joined = TestOps.withDomainId(parsed).select("conv_id", "domain_id").distinct()
    val twoDomainConvs = joined.groupBy("conv_id").count().filter(col("count") > 1).count()
    assert(twoDomainConvs > 10, s"$twoDomainConvs conversations with two domains")
    val expected = Sinks.withDomainRows(Aggregates.metricRows(parsed), joined)
      .collect().map(_.toSeq).toSeq
    assert(written.size > Aggregates.metricRows(parsed).count()) // rows repeat per domain
    def counts(rows: Seq[Seq[Any]]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    assert(counts(written) == counts(expected))
  }

  test("JobConfig JSON loader") {
    val cfg = JobConfig.fromJson(
      """{"Handlers": ["COUNTER", "METRICS"], "TimeWindowSizeMinutes": 5,
        |"MetricsWindowSize": 4, "SaveLogsToDbMaskIPs": true, "StartFrom": -1,
        |"DomainName": "example.test", "ArrivalOrderMetrics": true}""".stripMargin)
    assert(cfg.handlers == Seq("COUNTER", "METRICS"))
    assert(cfg.timeWindowSizeMinutes == 5 && cfg.metricsWindowSize == 4)
    assert(cfg.saveLogsToDbMaskIps && cfg.arrivalOrderMetrics)
    assert(cfg.startFrom == -1 && cfg.domainName == "example.test")
    assert(cfg.replaceExistingMetrics) // default preserved
  }

  test("config JSON: escapes decode, and a bad value is rejected by its key") {
    val cfg = JobConfig.fromJson("""{"DomainName": "a\"b", "Handlers": ["COUNTER"], "HostId": null}""")
    assert(cfg.domainName == "a\"b" && cfg.handlers == Seq("COUNTER") && cfg.hostId == 0)
    val src = MultiJobConfig.fromJson("{\"/logs/caf\\u00e9\": {\"HostId\": 2}}")
    assert(src.map(_._1) == Seq("/logs/caf\u00e9"))
    val big = intercept[IllegalArgumentException](JobConfig.fromJson("""{"HostId": 99999999999}"""))
    assert(big.getMessage.contains("HostId"), big.getMessage)
    val typed = intercept[IllegalArgumentException](JobConfig.fromJson("""{"StartFrom": "5"}"""))
    assert(typed.getMessage.contains("StartFrom"), typed.getMessage)
  }

  test("counter report deltas between two snapshots (A3)") {
    import spark.implicits._
    val p1 = ParseStage.parse(spark.createDataset(Tables.localTurns(500)).toDF())
    val p2 = ParseStage.parse(spark.createDataset(Tables.localTurns(1000)).toDF())
    val s1 = CounterReport.snapshot(p1, 5)
    val s2 = CounterReport.snapshot(p2, 5)
    val rep = CounterReport.format(s2, Some(s1), "2026-01-01T00:00:00Z")
    assert(rep.contains("(+")) // deltas rendered
    assert(rep.contains("Total log lines"))
    val noDelta = CounterReport.format(s2, None)
    assert(!noDelta.contains("(+"))
  }

  test("COUNTER with N = 1 and N = 0: all six total lines, every dimension's header, N keys each") {
    import spark.implicits._
    val p = ParseStage.parse(spark.createDataset(Tables.localTurns(500)).toDF())
    Seq(1, 0).foreach { n =>
      val rep = CounterReport.format(CounterReport.snapshot(p, n), None)
      Seq("Total log lines", "Total requests", "Total bytes sent", "Requests by humans",
        "Requests by non-humans", "Malicious requests").foreach { k =>
        assert(rep.linesIterator.count(_.startsWith(k)) == 1, rep)
      }
      val secs = PipelineAppSpec.sections(rep)
      assert(secs.map(_._1).toSet == Aggregates.counterDims.map(_._1).toSet, rep)
      assert(secs.forall(_._2.size == n), rep)
      assert(rep.contains(s"--- status (top $n) ---"), rep)
    }
  }

  test("COUNTER keyed sections are the oracle's top N, from at most 9·N keyed rows plus the totals") {
    import spark.implicits._
    val n = 3
    val turns = Tables.localTurns(2000)
    val p = ParseStage.parse(spark.createDataset(turns).toDF())
    val oracle = RefOracle.keyedCounts(RefOracle.parseAll(turns).map(_._2))
    Seq("client_ip", "path", "referer").foreach(d => assert(oracle(d).size > n, d))
    // the pinned order: cnt descending, then the null key, then keys in
    // UTF-8 byte order (Spark's string order)
    def before(a: (Option[String], Long), b: (Option[String], Long)): Boolean =
      if (a._2 != b._2) a._2 > b._2
      else (a._1, b._1) match {
        case (None, Some(_)) => true
        case (Some(x), Some(y)) => java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        case _ => false
      }
    val expected = oracle.map { case (dim, m) => dim -> m.toSeq.sortWith(before).take(n) }
    assert(CounterReport.snapshot(p, n).keyed == expected)
    // what the snapshot collects: at most 9·N keyed rows and the 5 totals,
    // a fraction of the distinct keys counted (141 here)
    val counts = Aggregates.counterCounts(p)
    assert(Aggregates.counterTopN(counts, n).count() <= 9 * n + 5)
    assert(counts.count() > 4 * (9 * n + 5))
  }

  test("multi-source config map: --default-- fills only absent fields (main.go:476-570)") {
    val json =
      """{
        |  "--default--": {"Handlers": ["COUNTER"], "HostId": 7, "TimeWindowSizeMinutes": 5, "SaveLogsToDbMaskIPs": true},
        |  "/var/log/a": {"TimeWindowSizeMinutes": 15},
        |  "/var/log/b": {"Handlers": [], "HostId": 9},
        |  "--OS-metrics--": {"HostId": 3}
        |}""".stripMargin
    val m = MultiJobConfig.fromJson(json)
    assert(m.map(_._1) == Seq("/var/log/a", "/var/log/b")) // special keys excluded, order kept
    val a = m.toMap.apply("/var/log/a")
    assert(a.handlers == Seq("COUNTER")) // inherited from --default--
    assert(a.hostId == 7) // inherited
    assert(a.timeWindowSizeMinutes == 15) // own value wins
    assert(a.saveLogsToDbMaskIps) // inherited
    val b = m.toMap.apply("/var/log/b")
    assert(b.handlers.isEmpty) // present-but-empty stays empty (Handlers_ok=true)
    assert(b.hostId == 9)
    assert(b.timeWindowSizeMinutes == 5) // inherited
    // no --default-- entry → per-source entries parse standalone
    val solo = MultiJobConfig.fromJson("""{"/var/log/c": {"HostId": 2}}""")
    assert(solo.head._2.hostId == 2 && solo.head._2.timeWindowSizeMinutes == 10)
    // --OS-metrics-- entry is surfaced (default-merged), not discarded
    val os = MultiJobConfig.osMetricsConfig(json)
    assert(os.map(_.hostId).contains(3))
    assert(os.map(_.timeWindowSizeMinutes).contains(5)) // inherited from --default--
    assert(MultiJobConfig.osMetricsConfig("""{"/var/log/c": {"HostId": 2}}""").isEmpty)
  }

  test("masked raw logs null the IP and keep the LAST 100 UA chars (mysqldb.go:208)") {
    import spark.implicits._
    val longUa = "curl " + ("x" * 150) + "END-OF-UA" // > 100 chars, not matching script regexes? 'curl' matches... keep simple
    val parsed = ParseStage.parse(spark.createDataset(Tables.localTurns(300)).toDF())
    val masked = graft.operators.Route.rawLogProjection(parsed, maskIps = true)
    assert(masked.filter(col("client_ip").isNotNull).count() == 0)
    val unmasked = graft.operators.Route.rawLogProjection(parsed, maskIps = false)
    assert(unmasked.filter(col("client_ip").isNull).count() == 0)
    // truncation semantics on a crafted long UA (ASCII: bytes == chars)
    val expanse = parsed.filter(col("ua_full").startsWith("Expanse")).limit(1)
    if (expanse.count() > 0) {
      val full = expanse.collect()(0).getAs[String]("ua_full")
      val m = graft.operators.Route.rawLogProjection(expanse, maskIps = true).collect()(0)
      assert(m.getAs[String]("ua_string") == full.takeRight(100))
      val u = graft.operators.Route.rawLogProjection(expanse, maskIps = false).collect()(0)
      assert(u.getAs[String]("ua_string") == full.take(100))
    }
    // INET6_ATON binary parity (mysqldb.go:168-175): 4 raw bytes per IPv4,
    // NULL under masking
    val bin = unmasked.select(col("client_ip"), col("client_ip_bin")).limit(20).collect()
    bin.foreach { r =>
      val expectBytes = r.getString(0).split("\\.").map(_.toInt.toByte)
      assert(r.getAs[Array[Byte]](1).toSeq == expectBytes.toSeq)
    }
    assert(masked.filter(col("client_ip_bin").isNotNull).count() == 0)
  }

  test("accumulate metrics (ReplaceExistingMetrics=false) sums across runs (mysqldb.go:147-151)") {
    import graft.operators.{Aggregates, Sinks, TestOps}
    import spark.implicits._
    val parsed = ParseStage.parse(spark.createDataset(Tables.localTurns(2000)).toDF())
    val dim = TestOps.withDomainId(parsed).select("conv_id", "domain_id").distinct()
    def metricsOf(df: org.apache.spark.sql.DataFrame) = Aggregates.metricRows(df)
    val halfA = parsed.filter(col("turn_idx") % 2 === 0)
    val halfB = parsed.filter(col("turn_idx") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-acc").toString + "/metrics"
    // two incremental accumulate runs over overlapping windows...
    Sinks.writeMetrics(metricsOf(halfA), dim, dir, replace = false)
    Sinks.writeMetrics(metricsOf(halfB), dim, dir, replace = false)
    val accumulated = spark.read.parquet(dir)
      .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
      .collect().map(_.toSeq).toSet
    // ...must equal one full-input run (keys re-sum, never duplicate)
    val dirFull = java.nio.file.Files.createTempDirectory("graft-acc-full").toString + "/metrics"
    Sinks.writeMetrics(metricsOf(parsed), dim, dirFull, replace = true)
    val full = spark.read.parquet(dirFull)
      .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
      .collect().map(_.toSeq).toSet
    assert(accumulated == full)
    // replace=true drops the previous content entirely
    Sinks.writeMetrics(metricsOf(halfA), dim, dir, replace = true)
    val replaced = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("metric_value")).collect()(0).getLong(0)
    val halfOnly = metricsOf(halfA)
      .agg(org.apache.spark.sql.functions.sum("metric_value")).collect()(0).getLong(0)
    assert(replaced == halfOnly)
  }

  test("accumulate swap crash recovery: an orphaned ._backup is restored, not dropped") {
    import graft.operators.{Aggregates, Sinks, TestOps}
    import spark.implicits._
    val parsed = ParseStage.parse(spark.createDataset(Tables.localTurns(2000)).toDF())
    val dim = TestOps.withDomainId(parsed).select("conv_id", "domain_id").distinct()
    def metricsOf(df: org.apache.spark.sql.DataFrame) = Aggregates.metricRows(df)
    val halfA = parsed.filter(col("turn_idx") % 2 === 0)
    val halfB = parsed.filter(col("turn_idx") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-acc-crash").toString + "/metrics"
    Sinks.writeMetrics(metricsOf(halfA), dim, dir, replace = false)
    // simulate a crash between the two swap renames: the table sits at
    // ._backup, no committed target exists
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dir + "._backup")))
    // the next accumulate must RECOVER the backup first — summing with it,
    // not starting from an empty sink
    Sinks.writeMetrics(metricsOf(halfB), dim, dir, replace = false)
    val accumulated = spark.read.parquet(dir)
      .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
      .collect().map(_.toSeq).toSet
    val dirFull = java.nio.file.Files.createTempDirectory("graft-acc-crash-full").toString + "/metrics"
    Sinks.writeMetrics(metricsOf(parsed), dim, dirFull, replace = true)
    val full = spark.read.parquet(dirFull)
      .select("domain_id", "conv_id", "metric_type", "key_value", "time_window", "metric_value")
      .collect().map(_.toSeq).toSet
    assert(accumulated == full)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._backup"))) // consumed by the swap
  }

  test("raw-log truncation slices BYTES like Go str[:n], not characters (mysqldb.go:226-238)") {
    import spark.implicits._
    // 40 × '€' (3 UTF-8 bytes each) = 120 bytes, 40 chars: Go's str[:100]
    // keeps 33 whole runes + 1 dangling byte; char-substr would keep 100
    // chars (the whole string). One row shaped like a parsed row.
    val euros = "€" * 40
    val goBytes = euros.getBytes("UTF-8").take(100).toSeq
    val row = Seq(("c1", 0, null: String, "2025-11-17T00:00:00Z", euros, "GET",
      "/x", "/x", "", "", "HTTP/1.1", "200", 10L, "", 0))
      .toDF("conv_id", "turn_idx", "log_ts_s", "ts", "remote_user", "method",
        "path", "path1", "path2", "path3", "protocol", "status", "bytes_sent",
        "referer", "malicious")
      .withColumn("log_ts", col("log_ts_s").cast("timestamp"))
      .withColumn("tz_offset_sec", lit(0))
      .withColumn("client_ip", lit("10.0.0.1"))
      .withColumn("ua_full", lit(euros + "tail"))
      .withColumn("ua_os", lit("o")).withColumn("ua_family", lit("f"))
      .withColumn("ua_device_type", lit("d")).withColumn("ua_human", lit("h"))
      .withColumn("ua_intent", lit("i"))
    val out = graft.operators.Route.rawLogProjection(row, maskIps = false)
      .select(col("remote_user").cast("binary"), col("ua_string").cast("binary"))
      .collect()(0)
    assert(out.getAs[Array[Byte]](0).toSeq == goBytes,
      "remote_user must carry Go's exact first-100-byte slice (mid-rune cut included)")
    assert(out.getAs[Array[Byte]](1).toSeq ==
      (euros + "tail").getBytes("UTF-8").take(100).toSeq)
    // masked path keeps the LAST 100 bytes
    val m = graft.operators.Route.rawLogProjection(row, maskIps = true)
      .select(col("ua_string").cast("binary")).collect()(0)
    assert(m.getAs[Array[Byte]](0).toSeq ==
      (euros + "tail").getBytes("UTF-8").takeRight(100).toSeq)
  }

  test("a run's sink jobs overlap: jobs of two sinks run at the same moment, still at most 11 jobs") {
    // a job belongs to the root SQL execution of the action that launched
    // it. Each sink's actions run one after another (the fan-out's stats
    // pass, then its write), so jobs of two root executions that run at
    // the same moment are jobs of two sinks
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, (e.properties.getProperty("spark.sql.execution.root.id"), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.run(spark, sf, java.nio.file.Files.createTempDirectory("graft-overlap").toString)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    val jobs = started.asScala.toSeq.map { case (id, (root, t0)) => (root, t0, ended.get(id)) }
    val overlapping = for {
      (a, a0, a1) <- jobs; (b, b0, b1) <- jobs
      if a != b && a0 < b1 && b0 < a1
    } yield (a, b)
    assert(overlapping.nonEmpty, jobs.sortBy(_._2).mkString("\n"))
    assert(jobs.size <= 11, s"${jobs.size} jobs")
  }

  test("job_metrics.json is a JSON object with the run's rows and host id") {
    val out = java.nio.file.Files.createTempDirectory("graft-jobmetrics").toString
    val r = Pipeline.run(spark, sf, out, JobConfig(hostId = 7, handlers = Seq()))
    val jm = JobConfig.mapper.readTree(java.nio.file.Paths.get(out, "_metrics", "job_metrics.json").toFile)
    assert(jm.get("rows").isIntegralNumber && jm.get("rows").longValue == r.rows && r.rows == 6000)
    assert(jm.get("host_id").isInt && jm.get("host_id").intValue == 7)
    assert(jm.properties.asScala.toSeq.map(_.getKey).take(2) == Seq("rows", "host_id"))
    // the host sample, when present: load1 as text, the rest as numbers
    Option(jm.get("load1")).foreach(v => assert(v.isTextual, jm))
    Seq("up_minutes", "mem_use", "mem_available").flatMap(k => Option(jm.get(k)))
      .foreach(v => assert(v.isIntegralNumber, jm))
  }

  test("one failing sink fails the run with its own exception, leaving no job or pool thread behind") {
    val out = java.nio.file.Files.createTempDirectory("graft-failing").toString
    // a regular file where routed/ goes: the fan-out's stats pass runs, then
    // removing the old manifest throws while the other sinks are running
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "routed"), "")
    val e = intercept[java.nio.file.FileSystemException](Pipeline.run(spark, sf, out))
    assert(e.getReason == "Not a directory", e)
    val sc = spark.sparkContext
    TestBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val poolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "pipeline-sinks")
    poolThreads.foreach(_.join(10000))
    assert(!poolThreads.exists(_.isAlive), poolThreads)
    val next = Pipeline.run(spark, sf, java.nio.file.Files.createTempDirectory("graft-after-failure").toString)
    assert(next.rows == 6000) // sf0.001 turns
  }

  // last in the suite: starting JFR in a running JVM instruments the JDK's
  // I/O classes and drops the compiled code that inlined them; the three
  // tests that followed it ran 2-2.5x slower
  test("Pipeline.run starts no chmod process") {
    // every sink writes through Tables.writer, whose filesystem sets modes
    // in-process; OsMetrics' uptime and free, and Spark's one getconf in a
    // fresh JVM, may still start
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try Pipeline.run(spark, sf, java.nio.file.Files.createTempDirectory("graft-forks").toString)
    finally recording.stop()
    val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      recording.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toList
      assert(!commands.exists(_.startsWith("chmod")),
        commands.groupMapReduce(_.takeWhile(_ != ' '))(_ => 1)(_ + _))
    } finally {
      recording.close()
      java.nio.file.Files.delete(dump)
    }
  }
}

object PipelineAppSpec {

  private val Header = """--- (\w+) \(top -?\d+\) ---""".r

  /** a COUNTER report's keyed sections, in order: dimension → its key lines */
  def sections(report: String): Seq[(String, Seq[String])] =
    report.linesIterator.foldLeft(Vector.empty[(String, Vector[String])]) {
      case (acc, Header(dim)) => acc :+ (dim -> Vector.empty[String])
      case (acc, line) if acc.nonEmpty => acc.init :+ (acc.last._1 -> (acc.last._2 :+ line))
      case (acc, _) => acc
    }
}
