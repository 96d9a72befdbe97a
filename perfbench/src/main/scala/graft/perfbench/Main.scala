package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.app.Pipeline
import graft.operators.ParseStage
import graft.parse.LineParser
import graft.sources.{Tables, TranscriptGen}

/** JVM side of the Pipeline.run benchmark; `perfbench/run.py` drives it.
  *
  *   prepare  <options>    write the workload's table and its oracle summary;
  *                         for `rerun` also run the pipeline once into the
  *                         output directory the measured reruns resume from
  *   measure  <options>    the timed runs, each checked against the summary
  *
  * options: --workload clean|dirty_wide|rerun --seed N --turns N
  *          --seconds S --trace 0|1 --work DIR
  *
  * Each mode prints one `RESULT {json}` line on stdout.
  */
object Main {

  final case class Opts(mode: String, workload: String, seed: Long, turns: Long,
      seconds: Double, trace: Boolean, work: Path) {
    def spec: Gen.Spec = Gen.Spec(if (workload == "dirty_wide") "dirty" else "clean", seed, turns)
  }

  private def opts(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    require(Set("clean", "dirty_wide", "rerun")(arg("workload")), s"unknown workload ${arg("workload")}")
    Opts(args(0), arg("workload"), arg("seed").toLong, arg("turns").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("work")).toAbsolutePath)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Warm runs keep getting faster for many runs while the JIT compiles
    * Spark's planner, so the metric is the median of a fixed number of them,
    * never of however many fit in the time: the same work on every host.
    * Runs beyond these, while --seconds last, are still checked.
    */
  val WarmRuns = 3

  /** Pipeline.main's session, sized to this host rather than local[32];
    * Spark's local and warehouse directories stay inside the work directory.
    */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `Tables.dataRoot` is a fixed absolute path compiled into the program.
    * Point it at the work directory before the program first reads it, so
    * `Tables.transcripts` finds the generated tables there and nothing is
    * read or written outside the benchmark's checkout.
    */
  def pointDataRootAt(dir: Path): Unit = {
    val field = Tables.getClass.getDeclaredField("dataRoot")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), dir.toString)
    require(Tables.dataRoot == dir.toString, s"data root still ${Tables.dataRoot}")
  }

  private def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Heap occupancy right after every collection, with the collection's
    * start time. A full collection is forced before every timed run,
    * outside its timing, so each run starts from the same live heap and the
    * occupancy its collections see is that run's own.
    */
  object HeapWatch {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val gc = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            samples.add(gc.getStartTime -> gc.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
          }
        }, null, null)
      case _ =>
    }
    /** milliseconds since the JVM started, the clock of collection start times */
    def now: Long = ManagementFactory.getRuntimeMXBean.getUptime
    /** largest occupancy after a collection that started within [from, to] */
    def peakBytes(from: Long, to: Long): Long =
      samples.asScala.collect { case (t, used) if t >= from && t <= to => used }.maxOption.getOrElse(0L)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val spark = session(o.work)
    val readyMs = System.currentTimeMillis()
    try {
      pointDataRootAt(o.work.resolve("data"))
      val fields: Map[String, Any] = o.mode match {
        case "prepare" => prepare(spark, o)
        case "measure" => measure(spark, o)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      println("RESULT " + json(fields + ("ready_ms" -> readyMs)))
    } finally spark.stop()
  }

  private def outDir(o: Opts, run: Int): Path =
    if (o.workload == "rerun") o.work.resolve("out-rerun") else o.work.resolve(s"out-$run")

  def prepare(spark: SparkSession, o: Opts): Map[String, Any] = {
    val t0 = System.nanoTime()
    Gen.write(spark, o.spec)
    val exp = Gen.expected(o.spec)
    Files.writeString(o.work.resolve("expected.json"), exp.toJson)
    if (o.workload == "rerun") {
      // the run that crashed after committing its fan-out, or that a
      // rescheduled job repeats
      val out = outDir(o, 0)
      val r = Pipeline.run(spark, o.spec.tableName, out.toString)
      val bad = Check.failures(spark, r, out.toString, exp)
      require(bad.isEmpty, s"prepared run failed its check: ${bad.mkString("; ")}")
    }
    Map("prepare_s" -> (System.nanoTime() - t0) / 1e9, "expected" -> exp.toJson)
  }

  def measure(spark: SparkSession, o: Opts): Map[String, Any] = {
    val sc = spark.sparkContext
    val exp = Gen.Expected.fromJson(Files.readString(o.work.resolve("expected.json")))
    if (o.workload == "dirty_wide") Gen.fillMemos(o.seed)
    HeapWatch.install()
    val recorder = new Layers.Recorder
    if (o.trace) sc.addSparkListener(recorder)

    var attempted, failed = 0
    val failures = Seq.newBuilder[String]
    val heapPeaksMb = Seq.newBuilder[Double]
    /** One timed Pipeline.run, then its output check. Returns the wall time
      * and, when tracing, the per-site totals of exactly that run.
      */
    def run(k: Int): (Double, Map[String, Layers.Totals], Seq[String], Double) = {
      val out = outDir(o, k)
      attempted += 1
      org.apache.spark.perfbench.Bus.drain(sc)
      recorder.take()
      System.gc()
      val gc0 = gcMillis()
      val from = HeapWatch.now
      val t0 = System.nanoTime()
      val r = scala.util.Try(Pipeline.run(spark, o.spec.tableName, out.toString))
      val wall = (System.nanoTime() - t0) / 1e9
      val to = HeapWatch.now
      val gcS = (gcMillis() - gc0) / 1e3
      org.apache.spark.perfbench.Bus.drain(sc)
      val (sites, unattributed) = recorder.take()
      val bad = r.fold(e => Seq(s"threw $e"), res => Check.failures(spark, res, out.toString, exp))
      if (bad.nonEmpty) { failed += 1; failures ++= bad.map(b => s"run $k: $b") }
      if (o.workload != "rerun") deleteTree(out)
      heapPeaksMb += HeapWatch.peakBytes(from, to) / 1048576.0
      (wall, sites, unattributed, gcS)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val first = run(0)._1
    val warm, untraced, scan, parse = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Map[String, Double]]
    val unattributedJobs = Seq.newBuilder[String]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var k = 1
    // a traced call needs one traced and one untraced run at least
    while (k <= (if (o.trace) 2 else WarmRuns) || System.nanoTime() < deadline) {
      if (!o.trace) { warm += run(k)._1; k += 1 }
      else {
        // traced and untraced runs alternate, each going first every other
        // round, so their difference is the cost of recording
        def untracedRun(): Unit = {
          sc.removeSparkListener(recorder)
          untraced += run(k)._1
          sc.addSparkListener(recorder)
        }
        def tracedRun(): Unit = {
          val (wall, sites, unattributed, gcS) = run(k)
          traced += layerMetrics(sites, wall, gcS, exp)
          unattributedJobs ++= unattributed
        }
        if (k % 4 == 1) { untracedRun(); k += 1; tracedRun() }
        else { tracedRun(); k += 1; untracedRun() }
        k += 1
        sc.removeSparkListener(recorder)
        val s = seconds(noop(Tables.transcripts(spark, o.spec.tableName)))
        scan += s
        parse += seconds(noop(ParseStage.parse(Tables.transcripts(spark, o.spec.tableName)))) - s
        sc.addSparkListener(recorder)
      }
    }
    sc.removeSparkListener(recorder)

    val common = Map[String, Any](
      "turns" -> exp.turns, "rows" -> exp.rows, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.result().take(20), "first_run_s" -> first, "warm_runs" -> WarmRuns,
      // the median run's peak: the largest peak of all runs mostly tells
      // where a run's last young collection happened to fall
      "peak_heap_mb" -> median(heapPeaksMb.result()), "heap_peaks_mb" -> heapPeaksMb.result(),
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    if (!o.trace) common + ("warm_s" -> warm.result())
    else {
      val runs = traced.result()
      val layers = runs.head.keys.map(key => key -> median(runs.map(_(key)))).toMap ++ Map(
        "sources.scan_s" -> median(scan.result()),
        "parse.self_s" -> median(parse.result()),
        "parse.parsed_share" -> exp.rows.toDouble / exp.turns,
        "parse.kernel_lines_per_s" -> kernelLinesPerSecond(o))
      common ++ Map("traced_s" -> runs.map(_("app.wall_s")), "untraced_s" -> untraced.result(),
        "unattributed_jobs" -> unattributedJobs.result().distinct,
        "layers" -> layers, "layer_samples" -> runs)
    }
  }

  /** per-layer metrics of one traced run */
  private def layerMetrics(sites: Map[String, Layers.Totals], wall: Double, gcS: Double,
      exp: Gen.Expected): Map[String, Double] = {
    val none = new Layers.Totals
    def site(s: String) = sites.getOrElse(s, none)
    def sum(f: Layers.Totals => Long) = sites.values.map(f).sum.toDouble
    val aggSites = Seq(site("aggregates.counter"), site("sinks.metrics"))
    Map(
      "sources.input_passes" -> sum(_.recordsRead) / exp.turns,
      "sources.bytes_read" -> sum(_.bytesRead),
      "route.fanout_s" -> site("route.fanout").wallMs / 1e3,
      "route.shuffle_bytes" -> site("route.fanout").shuffleBytes.toDouble,
      "route.spill_bytes" -> site("route.fanout").spillBytes.toDouble,
      "enrich.domain_dim_s" -> site("enrich.domain_dim").wallMs / 1e3,
      "aggregates.counter_s" -> site("aggregates.counter").wallMs / 1e3,
      "aggregates.metrics_shuffle_bytes" -> site("sinks.metrics").shuffleBytes.toDouble,
      "aggregates.spill_bytes" -> aggSites.map(_.spillBytes).sum.toDouble,
      "sinks.metrics_s" -> site("sinks.metrics").wallMs / 1e3,
      "sinks.relog_s" -> site("sinks.relog").wallMs / 1e3,
      "sinks.rawlogs_s" -> site("sinks.rawlogs").wallMs / 1e3,
      "sinks.bytes_written" -> Seq("sinks.metrics", "sinks.relog", "sinks.rawlogs").map(site(_).bytesWritten).sum.toDouble,
      "app.jobs" -> sum(_.jobs),
      "app.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "app.gc_s" -> gcS,
      "app.core_idle_share" -> (1.0 - sum(_.runMs) / 1e3 / (wall * cores)),
      "app.unattributed_jobs" -> site(Layers.Unattributed).jobs.toDouble,
      "app.wall_s" -> wall)
  }

  /** LineParser.parseAuto on one thread over the workload's own lines */
  private def kernelLinesPerSecond(o: Opts): Double = {
    val n = math.min(o.turns, 50000L).toInt
    val lay = TranscriptGen.layout(o.turns)
    val lines = Array.tabulate(n)(i => Gen.turn(o.spec, i.toLong, lay).text)
    var parsed = 0L
    var done = 0L
    val t0 = System.nanoTime()
    val until = t0 + 1000000000L
    while (System.nanoTime() < until) {
      var i = 0
      while (i < n) { if (LineParser.parseAuto(lines(i)).isDefined) parsed += 1; i += 1 }
      done += n
    }
    require(parsed > 0)
    done / ((System.nanoTime() - t0) / 1e9)
  }
}
