package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.MetricRow
import graft.oracle.RefOracle
import graft.sources.{Tables, TranscriptGen}

/** Engine vs single-threaded oracle on generated transcripts — the
  * "per-sink aggregate-count and routed-row equality" gate (north rule),
  * run under `sbt -batch test`.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val N = 3000L
  private lazy val turns = Tables.localTurns(N)
  private lazy val oracleParsed = RefOracle.parseAll(turns).map(_._2)

  private lazy val df = {
    import spark.implicits._
    spark.createDataset(turns).toDF()
  }
  private lazy val parsedDf = ParseStage.parse(df).cache()

  test("every generated line parses (sticky format == per-row detect on uniform conversations)") {
    assert(parsedDf.count() == N)
    assert(oracleParsed.size == N.toInt)
  }

  test("per-row parse equality against the oracle") {
    val engine = parsedDf
      .select("conv_id", "turn_idx", "client_ip", "remote_logname", "remote_user",
        "method", "path", "path1", "path2", "path3", "status", "bytes_sent",
        "referer", "ua_family", "ua_os", "ua_device_type", "ua_human", "ua_intent",
        "malicious", "domain", "format")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2).toVector)
      .toMap
    val oracle = RefOracle.parseAll(turns).map { case (t, p) =>
      (t.conv_id, t.turn_idx) -> Vector(
        p.client_ip, p.remote_logname, p.remote_user, p.method, p.path, p.path1,
        p.path2, p.path3, p.status, p.bytes_sent, p.referer,
        p.ua.map(_.ua_family).orNull, p.ua.map(_.ua_os).orNull,
        p.ua.map(_.ua_device_type).orNull, p.ua.map(_.ua_human).orNull,
        p.ua.map(_.ua_intent).orNull, p.malicious, p.domain, p.format)
    }.toMap
    assert(engine.keySet == oracle.keySet)
    engine.foreach { case (k, v) =>
      assert(v == oracle(k), s"row $k: engine=$v oracle=${oracle(k)}")
    }
  }

  test("A1 grand totals match the oracle") {
    val t = Aggregates.totals(parsedDf).collect()(0)
    val o = RefOracle.counterTotals(oracleParsed)
    assert(t.getLong(0) == o.handledEntries)
    assert(t.getLong(2) == o.totalBytes)
    assert(t.getLong(3) == o.humans)
    assert(t.getLong(4) == o.nonHumans)
    assert(t.getLong(5) == o.malicious)
  }

  test("A2 keyed counts match the oracle on all 9 dimensions") {
    val engine = Aggregates.keyedCounts(parsedDf).collect()
      .map(r => (r.getString(0), Option(r.getString(1))) -> r.getLong(2)).toMap
    val oracle = RefOracle.keyedCounts(oracleParsed)
    val oracleFlat = oracle.flatMap { case (dim, m) => m.map { case (k, v) => (dim, k) -> v } }
    assert(engine == oracleFlat)
  }

  test("A6 metric rows match the oracle (evictions + flush == batch sums)") {
    val engine = Aggregates.metricRows(parsedDf).collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)), r.getLong(3)) -> r.getLong(4))
      .toMap
    val oracle = RefOracle.metricRows(turns)
      .map(m => (m.conv_id, m.metric_type, Option(m.key_value), m.time_window) -> m.metric_value)
      .toMap
    assert(engine.size == oracle.size, s"engine=${engine.size} oracle=${oracle.size}")
    val diffs = oracle.collect { case (k, v) if engine.getOrElse(k, -1L) != v => (k, v, engine.get(k)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("A8 late-drop semantics: crafted stragglers are dropped by the oracle state") {
    val st = new RefOracle.MetricState(3)
    // windows 100, 200, 300 fill capacity; 400 evicts SECOND-smallest (200)
    // because keys[0] (100) was overwritten pre-sort — the reference quirk
    st.add(1, "k", 100L, 1L)
    st.add(1, "k", 200L, 2L)
    st.add(1, "k", 300L, 3L)
    st.add(1, "k", 400L, 4L)
    // a straggler older than everything retained is silently dropped
    st.add(1, "k", 50L, 99L)
    val rows = st.allRows()
    assert(rows.contains((1, "k", 200L, 2L))) // evicted and emitted
    assert(!rows.exists(_._3 == 50L)) // dropped
    assert(rows.exists(r => r._3 == 100L && r._4 == 1L)) // lingering window flushed at end
    val total = rows.map(_._4).sum
    assert(total == 1L + 2L + 3L + 4L) // nothing double-counted, straggler lost
  }

  test("F1 routing + sink distribution match the oracle") {
    val engine = Route.withSink(parsedDf).groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val withTurn = RefOracle.parseAll(turns)
    val oracle = withTurn.groupBy { case (t, p) =>
      if (p.malicious != 0) "quarantine"
      else if (RefOracle.isRelevant(p)) "relevant"
      else if (t.role == "tool" || p.ua.exists(u => u.ua_device_type == "Script") ||
        p.ua.exists(u => u.ua_human == "NonHuman")) "bot_traffic"
      else "archive"
    }.view.mapValues(_.size.toLong).toMap
    assert(engine == oracle)
    assert(engine.values.sum == N)
  }

  test("routed-row equality: per-turn text equality under stable (conv_id, turn_idx) order") {
    val relevant = Route.withSink(parsedDf).filter(col("sink") === "relevant")
    val engine = relevant.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val oracle = RefOracle.parseAll(turns)
      .filter { case (_, p) => RefOracle.isRelevant(p) && p.malicious == 0 }
      .map { case (t, _) => (t.conv_id, t.turn_idx, t.text) }
      .sorted
    assert(engine.toSeq == oracle)
  }

  test("salted repartition preserves per-partition (conv_id, turn_idx) monotonicity") {
    import spark.implicits._
    val salted = Route.salted(parsedDf.select("conv_id", "turn_idx"), partitions = 8)
    val violations = salted
      .mapPartitions { it =>
        var prev: (String, Int) = null
        var bad = 0
        it.foreach { r =>
          val cur = (r.getString(0), r.getInt(1))
          if (prev != null && (prev._1 > cur._1 || (prev._1 == cur._1 && prev._2 > cur._2))) bad += 1
          prev = cur
        }
        Iterator.single(bad)
      }.collect().sum
    assert(violations == 0)
  }

  test("J1 enrichment: broadcast dims give stable first-sight ids, no row loss") {
    val enriched = Enrich.withRoleToolIds(parsedDf)
    assert(enriched.count() == N)
    val roleIds = enriched.select("role", "role_id").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(roleIds.size == roleIds.values.toSet.size) // ids unique
    val domains = Enrich.withDomainId(parsedDf)
    assert(domains.count() == N)
    assert(domains.filter(col("domain_id").isNull).count() == 0)
    // J2: empty parsed domain falls back to the configured default
    assert(domains.filter(col("domain_name") === TranscriptGen.defaultDomain).count() > 0)
  }

  test("grow-on-first-sight over consecutive batches equals full-table first-sight ids") {
    import spark.implicits._
    // `path` is the highest-cardinality dim here, so both batches introduce
    // genuinely new keys (a dim whose keys all appear in batch 1 would not
    // exercise the id-continuation)
    val full = Enrich.firstSightDims(parsedDf, Seq("path"))("path").toMap
    val convs = parsedDf.select("conv_id").distinct().collect().map(_.getString(0)).sorted
    // cut VERY early (first 8 turns of the first conversation): the path
    // pool has only ~22 distinct values, so any larger batch 1 would already
    // contain every key and batch 2 would never exercise the id continuation.
    // The split respects global (conv_id, turn_idx) arrival order, which is
    // what batch-at-a-time growth assumes (GetDomainId processes in order).
    val inBatch1 = col("conv_id") === convs.head && col("turn_idx") < 8
    val batch1 = parsedDf.filter(inBatch1)
    val batch2 = parsedDf.filter(!inBatch1)
    val empty = Seq.empty[(String, Int)].toDF("path", "path_id")
    val g1 = Enrich.grown(empty, batch1, "path", "path_id")
    val g2 = Enrich.grown(g1, batch2, "path", "path_id")
    val grownMap = g2.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(grownMap == full)
    // batch 2 must actually have added keys for this test to mean anything
    assert(g1.count() < g2.count())
  }

  test("materialized dim tables reproduce the self-contained first-sight enrichment") {
    val sf = "/root/testdata/sf0.001"
    val p = ParseStage.parse(Tables.transcripts(spark, sf))
    def groups(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("role", "role_id", "tool", "tool_id").count()
        .collect().map(_.toSeq.toVector).toSet
    val inline = groups(Enrich.withRoleToolIds(p))
    val fromTables = groups(Enrich.withRoleToolIdsFrom(p,
      graft.sources.DimTables.role(spark, sf), graft.sources.DimTables.tool(spark, sf)))
    assert(inline == fromTables)
  }

  test("sticky-detection quirk mode drops exactly one line per conversation") {
    val quirkParsed = RefOracle.parseAll(turns, quirk = true)
    val convs = turns.map(_.conv_id).distinct.size
    assert(quirkParsed.size == N.toInt - convs)
  }

  test("lineage fan-out is resumable: second call is a no-op with identical manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val routed = Route.withSink(parsedDf)
    val m1 = Route.fanOutWithLineage(routed, dir, partitions = 8)
    val files1 = new java.io.File(dir + "/data").listFiles().map(_.getName).toSet
    val m2 = Route.fanOutWithLineage(routed, dir, partitions = 8)
    assert(m1 == m2)
    val files2 = new java.io.File(dir + "/data").listFiles().map(_.getName).toSet
    assert(files1 == files2)
    assert(m1.manifest.contains("\"sink\":\"relevant\""))
  }

  test("a truncated lineage manifest is recomputed, not served") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-torn").toString
    val routed = Route.withSink(ParseStage.parse(
      graft.sources.Tables.transcripts(spark, "sf0.001")))
    val first = Route.fanOutWithLineage(routed, dir, partitions = 8)
    assert(first.rows == 6000L) // sf0.001 turns
    // keeps the manifest's opening brace, loses the rest
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_lineage", "manifest.json"),
      first.manifest.take(first.manifest.indexOf("\"input\":")))
    assert(Route.fanOutWithLineage(routed, dir, partitions = 8) == first)
  }

  test("a manifest whose input fingerprint is malformed is recomputed, not served") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-bad-input").toString
    val routed = Route.withSink(ParseStage.parse(
      graft.sources.Tables.transcripts(spark, "sf0.001")))
    val first = Route.fanOutWithLineage(routed, dir, partitions = 8)
    // "plan" and "rows" still read; the checksum does not
    val bad = first.manifest.replaceFirst("(\"input\":\\{[^}]*\"checksum\":)-?\\d+", "$1\"x\"")
    assert(bad != first.manifest)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_lineage", "manifest.json"), bad)
    assert(Route.fanOutWithLineage(routed, dir, partitions = 8) == first)
  }

  test("no manifest exists while the fan-out rewrites routed/data") {
    // a process killed at any point of the write must find nothing to
    // resume from: the old manifest would vouch for half-written data
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-rewrite").toString
    val routed = Route.withSink(ParseStage.parse(
      graft.sources.Tables.transcripts(spark, "sf0.001")))
    val first = Route.fanOutWithLineage(routed, dir, partitions = 8)
    val manifest = s"$dir/_lineage/manifest.json"
    // a changed plan, so the call rewrites; the probe runs in the write's
    // tasks only (the stats pass does not read the column)
    val seen = spark.sparkContext.longAccumulator("manifest seen during the write")
    val probe = udf { (_: String) =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(manifest))) seen.add(1)
      0
    }
    val second = Route.fanOutWithLineage(routed.withColumn("probe", probe(col("text"))), dir, partitions = 8)
    assert(second.rows == first.rows && second.manifest != first.manifest)
    assert(seen.value == 0, s"the manifest existed for ${seen.value} written rows")
  }

  test("a rerun in a fresh JVM resumes the fan-out: no more jobs than in-process, routed/data untouched") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-jvm").toString
    val routed = Route.withSink(ParseStage.parse(graft.sources.Tables.transcripts(spark, "sf0.001")))
    Route.fanOutWithLineage(routed, dir, partitions = 8)
    def files(): Map[String, (Long, Long)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        f.toString -> (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally walk.close()
    }
    val before = files()
    // the same rerun in this process: its stats pass and nothing else
    val sc = spark.sparkContext
    val inProcess = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        inProcess.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Route.fanOutWithLineage(routed, dir, partitions = 8)
      org.apache.spark.graft.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    // the same test classpath and JVM options, a smaller heap
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.operators.LineageRerun", "sf0.001", dir, "8")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val output = new String(proc.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, output.takeRight(4000))
    val jobs = output.linesIterator.collectFirst { case l if l.startsWith("jobs=") => l.drop(5).toInt }
    assert(jobs.exists(_ <= inProcess.get), s"$jobs jobs in a fresh JVM, ${inProcess.get} in-process")
    assert(files() == before)
  }

  test("lineage fan-out reads the input at most twice (stats pass + write)") {
    val executed = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        executed.incrementAndGet()
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-lineage2").toString
      val fileParsed = ParseStage.parse(
        graft.sources.Tables.transcripts(spark, "/root/testdata/sf0.001"))
      Route.fanOutWithLineage(Route.withSink(fileParsed), dir, partitions = 8)
      Thread.sleep(500) // listener events are posted asynchronously
      // one collect (stats+fingerprint folded together) + one write
      assert(executed.get <= 2, s"expected <=2 executions over the input, got ${executed.get}")
      // rerun over identical input: the stats pass matches the manifest,
      // so the write is skipped
      executed.set(0)
      Route.fanOutWithLineage(Route.withSink(fileParsed), dir, partitions = 8)
      Thread.sleep(500)
      assert(executed.get == 1, s"same-files rerun must run the stats pass only, got ${executed.get}")
      // a CHANGED PIPELINE over the same input must NOT resume (code-review
      // r5: the input fingerprint covers the plan and the partitions
      // argument, not just the input's rows and checksum)
      executed.set(0)
      Route.fanOutWithLineage(Route.withSink(fileParsed), dir, partitions = 4)
      Thread.sleep(500)
      // ADVICE r5 (medium): must take BOTH the stats pass AND the write —
      // matching on input rows/checksum alone used to skip the rewrite and
      // keep the old plan's output under the new plan's manifest
      assert(executed.get >= 2,
        s"changed partitions must re-run stats AND rewrite, got ${executed.get}")
      // ...and the rewritten manifest now resumes again
      executed.set(0)
      Route.fanOutWithLineage(Route.withSink(fileParsed), dir, partitions = 4)
      Thread.sleep(500)
      assert(executed.get == 1, s"post-rewrite rerun must run the stats pass only, got ${executed.get}")
    } finally spark.listenerManager.unregister(listener)
  }
}
