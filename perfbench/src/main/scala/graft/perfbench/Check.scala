package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.app.Pipeline
import graft.model.MetricType

/** Checks one `Pipeline.run` against the oracle summary of its input.
  * Returns one message per mismatch; empty means the run is correct.
  */
object Check {

  private val Totals = """(?m)^(Total log lines|Total requests|Total bytes sent|Requests by humans|Requests by non-humans|Malicious requests)\s*: (\d+)$""".r
  private val ManifestEntry = """"sink":"(\w+)","bucket":"[^"]*","rows":(\d+)""".r

  def sinkRows(manifest: String): Map[String, Long] =
    ManifestEntry.findAllMatchIn(manifest).toSeq
      .groupMapReduce(_.group(1))(_.group(2).toLong)(_ + _)

  def failures(spark: SparkSession, r: Pipeline.Result, outDir: String, exp: Gen.Expected): Seq[String] = {
    val out = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) out += s"$what: got $got, expected $want"

    expect("Result.rows", r.rows, exp.rows)

    val totals = Totals.findAllMatchIn(r.report).map(m => m.group(1) -> m.group(2).toLong).toMap
    expect("counter totals", totals, Map(
      "Total log lines" -> exp.rows, "Total requests" -> exp.rows,
      "Total bytes sent" -> exp.totalBytes, "Requests by humans" -> exp.humans,
      "Requests by non-humans" -> exp.nonHumans, "Malicious requests" -> exp.malicious))

    expect("manifest rows per sink", sinkRows(r.manifest), exp.sinkRows)

    expect("raw-log rows", spark.read.parquet(s"$outDir/rawlogs").count(), exp.sinkRows.getOrElse("relevant", 0L))

    val reqCount = spark.read.parquet(s"$outDir/metrics")
      .where(col("metric_type") === MetricType.ReqCount)
      .agg(coalesce(sum(col("metric_value")), lit(0L))).head().getLong(0)
    expect("metrics ReqCount sum", reqCount, exp.rows)
    out.result()
  }
}
