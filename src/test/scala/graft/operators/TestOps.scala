package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TranscriptGen

/** Self-contained forms of engine operators that only tests call, as the
  * reference the engine's own shapes are checked against.
  */
object TestOps {

  /** J2 + J1: per-row domain = parsed vhost domain if non-empty else the
    * configured default (main.go:666-669), then its first-sight surrogate id
    * via broadcast. Builds the dimension from the fact input itself, a
    * second scan; `Pipeline.run` numbers the same ids from the fan-out's
    * stats pass instead.
    */
  def withDomainId(parsed: DataFrame, defaultDomain: String = TranscriptGen.defaultDomain): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val withName = parsed.withColumn(
      "domain_name", coalesce(nullif(col("domain"), lit("")), lit(defaultDomain)))
    val dim = Enrich.firstSightDims(withName, Seq("domain_name"))("domain_name")
      .toDF("domain_name", "domain_id")
    withName.join(broadcast(dim), Seq("domain_name"), "left")
  }

  /** both halves of the lineage fan-out, one after the other */
  def fanOut(routed: DataFrame, outDir: String, partitions: Int): Route.Lineage =
    Route.fanOutWithLineage(Route.fanOutWithLineage(routed, outDir, partitions))
}
