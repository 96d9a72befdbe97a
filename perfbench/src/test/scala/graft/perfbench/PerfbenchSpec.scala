package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Pipeline
import graft.sources.Tables

/** The benchmark's own checks: seeded tables, the output check, and the
  * call-site map. Small tables keep the suite quick.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val turns = 3000L
  private lazy val work: Path = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target").toAbsolutePath, "perfbench-test")
  }
  private lazy val spark: SparkSession = {
    val s = Main.session(work)
    Main.pointDataRootAt(work.resolve("data"))
    s
  }

  // the session and the repointed data root exist before any test runs
  override def beforeAll(): Unit = spark
  override def afterAll(): Unit = spark.stop()

  private def table(spec: Gen.Spec) = {
    Gen.write(spark, spec)
    Tables.transcripts(spark, spec.tableName)
  }

  test("the data root points into the work directory") {
    assert(Tables.transcriptsPath("bench-x").startsWith(work.toString))
  }

  test("table names cannot collide with scale-factor tables") {
    assert(!Gen.Spec("clean", 1, turns).tableName.startsWith("sf"))
    assert(Gen.Spec("clean", 1, turns).tableName != Gen.Spec("dirty", 1, turns).tableName)
  }

  test("the same seed gives an identical table, another seed a different one") {
    for (kind <- Seq("clean", "dirty")) {
      val a = table(Gen.Spec(kind, 7, turns))
      // the same seed, generated again in memory
      val again = spark.createDataFrame(
        (0L until turns).map(i => Gen.turn(Gen.Spec(kind, 7, turns), i, graft.sources.TranscriptGen.layout(turns))))
      val b = table(Gen.Spec(kind, 8, turns))
      assert(a.count() == turns)
      assert(a.exceptAll(again).isEmpty && again.exceptAll(a).isEmpty, s"$kind: seed 7 not reproducible")
      assert(!a.select("text").exceptAll(b.select("text")).isEmpty, s"$kind: seeds 7 and 8 agree")
    }
  }

  test("dirty tables put lines off the clean shape and keep a few unparseable") {
    val spec = Gen.Spec("dirty", 3, turns)
    val lay = graft.sources.TranscriptGen.layout(turns)
    val texts = (0L until turns).map(i => Gen.turn(spec, i, lay).text)
    val offShape = texts.count(t => t.contains('\t') || t.count(_ == '"') % 2 == 1).toDouble / turns
    val unparsed = texts.count(t => graft.parse.LineParser.parseAuto(t).isEmpty).toDouble / turns
    assert(offShape > 0.15 && offShape < 0.30, s"off-shape share $offShape")
    assert(unparsed > 0.01 && unparsed < 0.06, s"unparseable share $unparsed")
  }

  test("the output check accepts a correct run and rejects corrupted sinks") {
    for (kind <- Seq("clean", "dirty")) {
      val spec = Gen.Spec(kind, 11, turns)
      Gen.write(spark, spec)
      val exp = Gen.expected(spec)
      val out = work.resolve(s"out-check-$kind").toString
      val r = Pipeline.run(spark, spec.tableName, out)
      assert(Check.failures(spark, r, out, exp).isEmpty)

      // one raw-log file lost
      val rawFile = Files.walk(Paths.get(out, "rawlogs")).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.delete(rawFile)
      assert(Check.failures(spark, r, out, exp).exists(_.startsWith("raw-log rows")))
      // a manifest that lost rows, a report with a wrong total, a wrong row count
      val badManifest = r.manifest.replaceFirst("(\"bucket\":\"[^\"]*\",\"rows\":)\\d+", "$10")
      val badReport = r.report.replaceFirst("(Total bytes sent\\s*: )\\d+", "$10")
      val bad = Check.failures(spark, r.copy(manifest = badManifest, report = badReport, rows = r.rows - 1), out, exp)
      assert(bad.exists(_.startsWith("manifest rows per sink")))
      assert(bad.exists(_.startsWith("counter totals")))
      assert(bad.exists(_.startsWith("Result.rows")))
    }
  }

  test("every job of a clean run is attributed to a layer, and a rerun skips the fan-out") {
    val spec = Gen.Spec("clean", 5, turns)
    Gen.write(spark, spec)
    val out = work.resolve("out-layers").toString
    val rec = new Layers.Recorder
    spark.sparkContext.addSparkListener(rec)
    def recorded(): Map[String, Layers.Totals] = {
      Pipeline.run(spark, spec.tableName, out)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val (sites, unattributed) = rec.take()
      assert(unattributed.isEmpty, unattributed.mkString("\n"))
      assert(!sites.contains(Layers.Unattributed))
      sites
    }
    try {
      val first = recorded()
      assert(Set("route.fanout", "aggregates.counter", "enrich.domain_dim", "sinks.metrics",
        "sinks.relog", "sinks.rawlogs", "app.count").subsetOf(first.keySet), first.keySet)
      val rerun = recorded()
      assert(!rerun.contains("route.fanout"), "the rerun scanned or rewrote the fan-out")
      assert(rerun.contains("sinks.relog"))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  test("call sites map by file and method, not by line") {
    val site = "org.apache.spark.sql.classic.DataFrameWriter.json(DataFrameWriter.scala:1)\n" +
      "graft.operators.Sinks$.writeJsonRelog(Sinks.scala:%d)\ngraft.app.Pipeline$.run(Pipeline.scala:9)"
    assert(Layers.siteOf(site.format(133)) == "sinks.relog")
    assert(Layers.siteOf(site.format(999)) == "sinks.relog")
    assert(Layers.siteOf("graft.perfbench.Main$.measure(Main.scala:3)\nfoo.Bar.baz(Bar.scala:1)") == Layers.Unattributed)
  }
}
