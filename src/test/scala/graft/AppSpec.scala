package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ParseStage, Route}
import graft.sources.Tables

/** Driver-contract smoke + R2 JSON sink parity. */
class AppSpec extends AnyFunSuite with SparkTestBase {

  test("entry returns rows") {
    // one row per routing sink, summing to the parsed sf0.001 turns (the
    // transcripts table is keyed by the scale's name alone)
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Route.rules.map(_._1).sorted)
    val parsed = ParseStage.parse(Tables.transcripts(spark, "sf0.001")).count()
    assert(parsed > 0 && rows.map(_.getLong(1)).sum == parsed)
  }

  test("Session leaves a launcher's spark.master and settings alone") {
    assert(Session.conf(3).get("spark.master") == "local[3]")
    assert(Session.conf(3).get("spark.sql.shuffle.partitions") == "3")
    System.setProperty("spark.master", "spark://cluster:7077")
    System.setProperty("spark.sql.shuffle.partitions", "200")
    try {
      val conf = Session.conf(3)
      assert(conf.get("spark.master") == "spark://cluster:7077")
      assert(conf.get("spark.sql.shuffle.partitions") == "200")
      assert(!conf.contains("spark.driver.host")) // executors must reach a cluster's driver
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      System.clearProperty("spark.master")
      System.clearProperty("spark.sql.shuffle.partitions")
    }
  }

  test("every oracleSql key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries run at sf0.001 and return rows") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("R2 JSON sink uses Go field names and RFC3339 timestamps (writetofile.go:67-83)") {
    import spark.implicits._
    val turns = Seq(graft.model.TranscriptTurn(
      "c1", 0, "user",
      """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /a/b HTTP/1.0" 200 2326 "http://www.example.com/s.html" "curl/8.5.0"""",
      "", new java.sql.Timestamp(0L))).toDS().toDF()
    val json = Route.goJsonProjection(ParseStage.parse(turns)).toJSON.collect()(0)
    assert(json.contains(""""Timestamp":"2000-10-10T13:55:36-07:00""""))
    assert(json.contains(""""ClientIP":"127.0.0.1""""))
    // '-' logname re-detects as nginx per the reference's last-match rule
    // (P5 trap) → RemoteLogname stays empty
    assert(json.contains(""""RemoteLogname":"""""))
    assert(json.contains(""""RemoteUser":"frank""""))
    assert(json.contains(""""BytesSent":2326"""))
    assert(json.contains(""""UserAgent":{"FullName":"curl/8.5.0""""))
    assert(json.contains(""""Malicious":0"""))
    assert(json.contains(""""IsOutOfOrder":false"""))
    // UTC offset renders as Z like Go's RFC3339
    val utcTurn = Seq(graft.model.TranscriptTurn(
      "c1", 0, "user",
      """1.1.1.1 - - [23/May/2025:03:53:41 +0000] "GET / HTTP/1.1" 200 5 "-" "curl/8.5.0"""",
      "", new java.sql.Timestamp(0L))).toDS().toDF()
    val j2 = Route.goJsonProjection(ParseStage.parse(utcTurn)).toJSON.collect()(0)
    assert(j2.contains(""""Timestamp":"2025-05-23T03:53:41Z""""))
  }
}
