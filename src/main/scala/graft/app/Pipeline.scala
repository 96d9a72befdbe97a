package graft.app

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{Tables, TranscriptGen}

/** Job configuration — the reference's ConfigForAMonitoredFile
  * (main.go:1015-1068) reduced to the knobs that are actually live there
  * (SURVEY.md §1.3.4; `Enabled` and `SkipIfLineMatchesRegex` are parsed but
  * never applied in the reference, so they are deliberately absent here).
  */
final case class JobConfig(
    handlers: Seq[String] = Seq("COUNTER", "METRICS", "WRITE_TO_FILE"),
    domainName: String = TranscriptGen.defaultDomain, // J2 fallback
    hostId: Int = 0, // sbo_rawlogs host_id (mysqldb.go:162-165)
    timeWindowSizeMinutes: Int = 10, // A7 (metricgenerator.go:131-158)
    metricsWindowSize: Int = 3, // A8 state width 2-10 (main.go:388-397)
    replaceExistingMetrics: Boolean = true, // R3 upsert mode
    saveLogsToDbOnlyRelevant: Boolean = true, // F1 (main.go:768-779)
    saveLogsToDbMaskIps: Boolean = false, // R4 masking
    counterTopNForKeyedMetrics: Int = 10, // A4
    startFrom: Int = 0, // S3: 0=begin, -1=end, N=skip first N turns per conv
    arrivalOrderMetrics: Boolean = false) // exact A8 semantics vs batch sums

object JobConfig {
  private[app] val mapper = new ObjectMapper()

  /** A flat JSON object {"key": value, ...}. Fields absent (or null) in the
    * JSON fall back to `base` — the per-field presence semantics the
    * reference tracks via its `*_ok` flags (main.go:405-475): present-but-empty
    * stays empty, absent inherits. A value of the wrong type, or an integer
    * outside 32 bits, is rejected with its key's name.
    */
  def fromJson(json: String, base: JobConfig = JobConfig()): JobConfig =
    fromNode(mapper.readTree(json), base)

  private[app] def fromNode(o: JsonNode, base: JobConfig): JobConfig = {
    require(o.isObject, s"a config is a JSON object, not: $o")
    def field[T](k: String, what: String, ok: JsonNode => Boolean, get: JsonNode => T): Option[T] =
      Option(o.get(k)).filterNot(_.isNull).map { v =>
        require(ok(v), s"config key $k: $v is not $what")
        get(v)
      }
    def str(k: String) = field(k, "a string", _.isTextual, _.textValue)
    def num(k: String) = field(k, "a 32-bit integer", v => v.isIntegralNumber && v.canConvertToInt, _.intValue)
    def bool(k: String) = field(k, "a boolean", _.isBoolean, _.booleanValue)
    def strs(k: String) = field(k, "an array of strings",
      v => v.isArray && v.elements.asScala.forall(_.isTextual), _.elements.asScala.map(_.textValue).toSeq)
    JobConfig(
      handlers = strs("Handlers").getOrElse(base.handlers),
      domainName = str("DomainName").getOrElse(base.domainName),
      hostId = num("HostId").getOrElse(base.hostId),
      timeWindowSizeMinutes = num("TimeWindowSizeMinutes").getOrElse(base.timeWindowSizeMinutes),
      metricsWindowSize = num("MetricsWindowSize").getOrElse(base.metricsWindowSize),
      replaceExistingMetrics = bool("ReplaceExistingMetrics").getOrElse(base.replaceExistingMetrics),
      saveLogsToDbOnlyRelevant = bool("SaveLogsToDbOnlyRelevant").getOrElse(base.saveLogsToDbOnlyRelevant),
      saveLogsToDbMaskIps = bool("SaveLogsToDbMaskIPs").getOrElse(base.saveLogsToDbMaskIps),
      counterTopNForKeyedMetrics = num("CounterTopNForKeyedMetrics").getOrElse(base.counterTopNForKeyedMetrics),
      startFrom = num("StartFrom").getOrElse(base.startFrom),
      arrivalOrderMetrics = bool("ArrivalOrderMetrics").getOrElse(base.arrivalOrderMetrics))
  }
}

/** The reference's multi-source config map (main.go:405-570): a JSON object
  * of {sourcePath → per-source config}. The `--default--` entry supplies the
  * value of every field a per-source entry does not explicitly set; the
  * `--OS-metrics--` entry configures the metrics sampler and is not a
  * source. Here a "source" is a transcripts table dir; multi-source = one
  * Pipeline.run per entry (union-of-DataFrames is the cluster-side shape).
  */
object MultiJobConfig {
  val DefaultKey = "--default--"
  val OsMetricsKey = "--OS-metrics--"

  /** the top-level (key, value) pairs, in declaration order */
  private def entries(json: String): Seq[(String, JsonNode)] = {
    val root = JobConfig.mapper.readTree(json)
    if (root.isObject) root.properties.asScala.toList.map(e => e.getKey -> e.getValue) else Nil
  }

  private def default(entries: Seq[(String, JsonNode)]): JobConfig =
    entries.collectFirst { case (DefaultKey, body) => JobConfig.fromNode(body, JobConfig()) }
      .getOrElse(JobConfig())

  /** source dir → merged config (default-filled), in declaration order */
  def fromJson(json: String): Seq[(String, JobConfig)] = {
    val all = entries(json)
    val base = default(all)
    all.collect { case (k, body) if k != DefaultKey && k != OsMetricsKey => k -> JobConfig.fromNode(body, base) }
  }

  /** the `--OS-metrics--` sampler config (main.go:545-570): not a source —
    * its live fields (HostId for the emitted sample, the handler list) apply
    * to the job-metrics emission. Default-merged like any source entry.
    */
  def osMetricsConfig(json: String): Option[JobConfig] = {
    val all = entries(json)
    all.collectFirst { case (OsMetricsKey, body) => JobConfig.fromNode(body, default(all)) }
  }

  /** A config is the multi-source map iff every top-level value is itself an
    * object — structural, like the reference's {filePath → config} shape —
    * not a substring heuristic (a flat config whose string values merely
    * mention --default-- must not be misrouted, and a map WITHOUT a
    * --default-- entry is still a valid map, main.go:405-475).
    */
  def isMultiSource(json: String): Boolean = {
    val all = entries(json)
    all.nonEmpty && all.forall(_._2.isObject)
  }
}

/** The whole engine as one runnable pipeline: transcripts in, sinks out —
  * what `spark-submit --class graft.app.Pipeline` runs on a cluster.
  * Handler set mirrors the reference's R1 registry (main.go:576-600):
  * COUNTER → stdout report; METRICS → metrics table; WRITE_TO_FILE → JSON
  * re-log; plus the routed raw-log table (main.go:761-784) and the
  * lineage-manifested multi-sink fan-out.
  */
object Pipeline {

  final case class Result(manifest: String, report: String, rows: Long)

  /** One run: every sink is an action over the same parsed input, and none
    * reads another's output, so they run side by side like the reference's
    * handler goroutines (main.go's pipeline wiring, SURVEY §1). COUNTER,
    * relog, raw logs and the fan-out's stats pass start at once; the
    * fan-out's write follows its stats pass, and the metrics sink starts as
    * soon as that pass has returned the first turns its domain dimension
    * needs. Spark's FIFO scheduler shares the cores between their jobs.
    *
    * Failure: the first action to fail cancels the others' jobs; `run`
    * waits for every action to settle and rethrows that first exception as
    * it was thrown. No pool thread outlives the call.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String, cfg: JobConfig = JobConfig(),
      osCfg: Option[JobConfig] = None): Result = {
    val transcripts0 = Tables.transcripts(spark, sfDir)
    // S3 start offset (main.go:926-978): per-conversation analog
    val transcripts = cfg.startFrom match {
      case 0 => transcripts0
      case -1 => transcripts0.filter(lit(false)) // seek-to-end: nothing historical
      case n => transcripts0.filter(col("turn_idx") >= n)
    }
    val parsed = ParseStage.parse(transcripts)
    val routed = Route.withSink(parsed)
    val metrics = cfg.handlers.contains("METRICS")
    // J2: the parsed vhost domain, else the configured one (main.go:666-669)
    val domainName = coalesce(nullif(col("domain"), lit("")), lit(cfg.domainName))

    // the fan-out's stats pass, handed to the metrics sink when it returns
    val stats = Promise[Route.FanOut]()
    var lineage: Route.Lineage = null
    var report = ""
    val sinks: Seq[(String, () => Unit)] = Seq(
      // fan-out with lineage (idempotent resume), as wide as the session's
      // shuffles; its stats pass also finds each conversation's domains
      Some("fanout" -> { () =>
        val fanOut =
          try Route.fanOutWithLineage(routed, s"$outDir/routed",
            partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt,
            firstTurnsOf = Option.when(metrics)(domainName))
          catch { case e: Throwable => stats.failure(e); throw e }
        stats.success(fanOut)
        lineage = Route.fanOutWithLineage(fanOut)
      }),
      Option.when(cfg.handlers.contains("COUNTER"))("counter" -> { () =>
        report = CounterReport.format(CounterReport.snapshot(parsed), None,
          cfg.counterTopNForKeyedMetrics)
      }),
      Option.when(metrics)("metrics" -> { () =>
        val metricRows: DataFrame =
          if (cfg.arrivalOrderMetrics)
            MetricsArrivalOrder.metricRows(parsed, cfg.timeWindowSizeMinutes, cfg.metricsWindowSize).toDF()
          else Aggregates.metricRows(parsed, cfg.timeWindowSizeMinutes)
        // the domain dimension: ids numbered locally from each (conv_id,
        // domain)'s first turn, as the fan-out's stats pass found them
        val firstTurns = Await.result(stats.future, Duration.Inf).firstTurns
        val ids = Enrich.firstSightIds(firstTurns).toMap
        import spark.implicits._
        val domainDim = firstTurns.map { case (domain, conv, _) => (conv, ids(domain)) }
          .toDF("conv_id", "domain_id")
        Sinks.writeMetrics(metricRows, domainDim, s"$outDir/metrics", cfg.replaceExistingMetrics)
      }),
      Option.when(cfg.handlers.contains("WRITE_TO_FILE"))("relog" -> { () =>
        Sinks.writeJsonRelog(parsed, s"$outDir/relog")
      }),
      Some("rawlogs" -> { () =>
        Sinks.writeRawLogs(parsed, s"$outDir/rawlogs", cfg.saveLogsToDbMaskIps,
          cfg.saveLogsToDbOnlyRelevant, cfg.hostId)
      })).flatten
    runAll(spark.sparkContext, sinks)

    // counted by the fan-out's stats pass
    val rows = lineage.rows

    // S5 analog: job-metrics snapshot next to the lineage manifest — rows
    // processed plus a best-effort host sample through the reference's
    // uptime/free parsers (os_metrics.go; scheduler main.go:102-202).
    // The sample is stamped with the --OS-metrics-- entry's HostId when the
    // multi-source config carries one (ADVICE r2: previously parsed and
    // discarded), falling back to the source config's host id.
    val (up, mem) = graft.metrics.OsMetrics.liveSnapshot()
    val jm = s"""{"rows":$rows,"host_id":${osCfg.getOrElse(cfg).hostId}""" +
      up.map(u => s""","up_minutes":${u.upDurationMinutes},"load1":"${u.load1}"""").getOrElse("") +
      mem.map(m => s""","mem_use":${m.memUse},"mem_available":${m.memAvailable}""").getOrElse("") +
      "}"
    val mp = java.nio.file.Paths.get(outDir, "_metrics", "job_metrics.json")
    java.nio.file.Files.createDirectories(mp.getParent)
    java.nio.file.Files.writeString(mp, jm)

    Result(lineage.manifest, report, rows)
  }

  /** Runs `actions` at once, one thread each, from a pool that lives for
    * this call, and waits for all of them. Their jobs carry one tag and the
    * action's name as their description. After the first failure the tag's
    * jobs are cancelled until every action has settled (an action may launch
    * its next job after the first cancel); then that failure is rethrown.
    */
  private def runAll(sc: SparkContext, actions: Seq[(String, () => Unit)]): Unit = {
    val tag = s"pipeline-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(actions.size, r => new Thread(r, "pipeline-sinks"))
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      actions.foreach { case (name, action) =>
        done.submit { () =>
          sc.addJobTag(tag)
          sc.setJobDescription(name)
          action()
        }
      }
      var failure: Throwable = null
      var left = actions.size
      while (left > 0) {
        val next = if (failure == null) done.take() else done.poll(100, TimeUnit.MILLISECONDS)
        if (next != null) {
          left -= 1
          try next.get() catch { case e: ExecutionException => if (failure == null) failure = e.getCause }
        }
        if (failure != null) sc.cancelJobsWithTag(tag)
      }
      if (failure != null) throw failure
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** spark-submit entry: args = sfDir outDir [configJsonPath]. A config is
    * treated as the reference's multi-source map when EVERY top-level value
    * is itself a JSON object (structural {sourcePath → config} detection —
    * see MultiJobConfig.isMultiSource; a `--default--` entry is optional):
    * each non-special key is a source dir run with its merged config
    * (outputs land under outDir/<sanitized full path>).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val rawCfg = if (args.length > 2)
      Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(2)))))
    else None
    val multi = rawCfg.filter(MultiJobConfig.isMultiSource)
    val cfg = if (multi.isEmpty) rawCfg.map(JobConfig.fromJson(_)).getOrElse(JobConfig())
    else JobConfig()
    val spark = graft.Session.local()
    multi match {
      case Some(json) =>
        val osCfg = MultiJobConfig.osMetricsConfig(json)
        MultiJobConfig.fromJson(json).foreach { case (srcDir, c) =>
          // key the output on the sanitized FULL path: two sources sharing a
          // basename (/a/logs, /b/logs) must not overwrite each other
          val name = srcDir.replaceAll("[^A-Za-z0-9._-]+", "_").dropWhile(_ == '_')
          val r = run(spark, srcDir, s"$outDir/$name", c, osCfg)
          println(r.report)
          println(s"[pipeline] source=$srcDir rows=${r.rows}")
        }
      case None =>
        val r = run(spark, sfDir, outDir, cfg)
        println(r.report)
        println(s"[pipeline] rows=${r.rows} manifest=${r.manifest.take(200)}...")
    }
    spark.stop()
  }
}
