package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Malicious, ParsedFields, TranscriptTurn}
import graft.oracle.RefOracle
import graft.parse.{LineParser, UserAgents}
import graft.sources.{Tables, TranscriptGen}
import graft.sources.TranscriptGen.mix

/** The benchmark's own seeded transcript generator. Every turn is a pure
  * function of (workload, seed, row index), so a seed names one table.
  *
  *  - `clean` keeps TranscriptGen's shape: its pools, its conversation
  *    layout (4 hot conversations, 12-turn tails), five sticky formats and
  *    only clean-shape lines, so the parser's fast tier and memos always hit.
  *  - `dirty` draws URIs, query strings, IPs and referers from ranges far
  *    wider than any parse memo, puts about a fifth of the lines off the
  *    clean shape (an extra quote in the URI or a tab in the user agent,
  *    which only the regex tier parses) and makes a few percent unparseable
  *    (a tab as the first field separator).
  *
  * Every off-shape line keeps its conversation's format, so the engine's
  * per-line format detection and the oracle's sticky detection agree.
  */
object Gen {

  /** `kind` is "clean" or "dirty"; the rerun workload reads the clean table */
  final case class Spec(kind: String, seed: Long, turns: Long) {
    require(kind == "clean" || kind == "dirty", s"unknown table kind $kind")
    /** never starts with "sf", so it cannot collide with a scale-factor table */
    def tableName: String = s"bench-$kind-s$seed-n$turns"
  }

  private def pick(h: Long, shift: Int, n: Int): Int = (((h >>> shift) & 0xffffffL) % n).toInt

  private def hex(h: Long, digits: Int): String = {
    val s = java.lang.Long.toHexString(h & ((1L << (4 * digits)) - 1))
    "0" * (digits - s.length) + s
  }

  def turn(spec: Spec, i: Long, lay: TranscriptGen.Layout): TranscriptTurn = {
    val (c, t) = lay.convOf(i)
    val hc = mix(mix(spec.seed) ^ mix(c * 2L + 1L))
    val h = mix(hc ^ mix(t.toLong * 0x9e3779b97f4a7c15L + 17L))
    val dirty = spec.kind == "dirty"

    val fmtRoll = pick(hc, 0, 10)
    val fmt = if (fmtRoll == 0) 0 else if (fmtRoll <= 3) 1 else if (fmtRoll <= 5) 2 else if (fmtRoll <= 7) 3 else 4
    val convId = f"conv-$c%08d"
    val convStart = TranscriptGen.baseEpochSec + (java.lang.Long.remainderUnsigned(hc, 86400L) / 60L) * 60L
    val epochSec = convStart + t.toLong * 37L + (java.lang.Long.remainderUnsigned(h, 21L) - 10L)

    val h2 = mix(h ^ 0x632be59bd9b4e019L) // second word of entropy for the wide fields
    val pathRoll = pick(h, 32, 100)
    val ip =
      if (dirty) s"${10 + pick(h2, 0, 200)}.${pick(h2, 8, 256)}.${pick(h2, 16, 256)}.${pick(h2, 24, 256)}"
      else s"203.0.113.${pick(h, 8, 64)}"
    val uri =
      if (pathRoll >= 92) TranscriptGen.maliciousPaths(pick(h, 40, TranscriptGen.maliciousPaths.size))
      else if (!dirty) {
        if (pathRoll < 70) TranscriptGen.benignPaths(pick(h, 40, TranscriptGen.benignPaths.size))
        else TranscriptGen.queryPaths(pick(h, 40, TranscriptGen.queryPaths.size))
      } else {
        val base = s"/p/${hex(h2 >>> 32, 5)}/item${pick(h2, 4, 100000)}"
        if (pathRoll < 40) base
        else if (pathRoll < 80) s"$base?id=${pick(h2, 12, 1000000)}&q=${hex(h2 >>> 20, 6)}"
        else s"$base?utm_source=c${pick(h2, 28, 5000)}&page=${pick(h2, 36, 100)}"
      }
    val method = TranscriptGen.methodPool(pick(h, 56, TranscriptGen.methodPool.size))
    val status = TranscriptGen.statusPool(pick(h, 48, TranscriptGen.statusPool.size))
    val bytes = 1L + java.lang.Long.remainderUnsigned(h, 49999L)
    val ua = TranscriptGen.uaPool(pick(h, 16, TranscriptGen.uaPool.size))
    val referer =
      if (dirty && pick(h2, 44, 10) >= 3) s"https://r${hex(h2 >>> 8, 6)}.example.net/${hex(h2 >>> 40, 4)}?s=${pick(h2, 2, 100000)}"
      else TranscriptGen.refererPool(pick(h, 24, TranscriptGen.refererPool.size))
    val logname = if (pick(hc, 4, 3) == 0) "frank" else "-"
    val user = if (pick(hc, 12, 4) == 0) "alice" else "-"
    val domain = TranscriptGen.domainPool(pick(hc, 20, TranscriptGen.domainPool.size))
    val tsStr = TranscriptGen.renderTs(epochSec)
    val reqTime = s"0.${100 + pick(h, 36, 900)}"
    val upTime = s"0.${100 + pick(h, 44, 900)}"

    // dirty only: 3% unparseable, 12% extra quote, 8% tab inside the UA
    val shapeRoll = if (dirty) pick(h2, 52, 100) else 100
    val u = if (shapeRoll >= 3 && shapeRoll < 15) uri.patch(1, "\"", 0) else uri
    val a = if (shapeRoll >= 15 && shapeRoll < 23) ua.replaceFirst(" ", "\t") else ua
    val sep = if (shapeRoll < 3) "\t" else " "
    val text = fmt match {
      case 0 => s"""$ip$sep$logname $user [$tsStr] "$method $u HTTP/1.1" $status $bytes"""
      case 1 => s"""$ip$sep$logname $user [$tsStr] "$method $u HTTP/1.1" $status $bytes "$referer" "$a""""
      case 2 => s"""$domain$sep$ip $logname $user [$tsStr] "$method $u HTTP/1.1" $status $bytes "$referer" "$a""""
      case 3 => s"""$ip$sep- $user [$tsStr] "$method $u HTTP/1.1" $status $bytes "$referer" "$a""""
      case _ => s"""$ip$sep- $user [$tsStr] "$method $u HTTP/1.1" $status $bytes "$referer" "$a" $reqTime $upTime"""
    }

    val role =
      if (t == 0) "system"
      else { val r = pick(h, 4, 10); if (r < 4) "user" else if (r < 8) "assistant" else "tool" }
    val tool = if (role == "tool") TranscriptGen.toolPool(pick(h, 12, TranscriptGen.toolPool.size)) else ""
    TranscriptTurn(convId, t, role, text, tool, new java.sql.Timestamp(epochSec * 1000L))
  }

  /** Writes the table where `Tables.transcripts(spark, spec.tableName)`
    * reads it, hash-scattered over files like the repo's own synthesized
    * tables. Sixteen files give every core of a small host several scan
    * splits without making per-file open cost the dominant work.
    */
  def write(spark: SparkSession, spec: Spec): Unit = {
    import spark.implicits._
    val path = Tables.transcriptsPath(spec.tableName)
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      val lay = TranscriptGen.layout(spec.turns)
      val parts = 16
      spark.range(0, spec.turns, 1, parts).as[Long]
        .map(i => turn(spec, i, lay))
        .repartitionByRange(parts, xxhash64(col("conv_id"), col("turn_idx")))
        .write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** The small per-run summary the output check compares against: what
    * RefOracle yields on the same turns, folded one conversation at a time
    * so no table-sized collection is ever held.
    */
  final case class Expected(
      turns: Long, rows: Long, totalBytes: Long, humans: Long, nonHumans: Long,
      malicious: Long, sinkRows: Map[String, Long]) {
    def toJson: String =
      s"""{"turns":$turns,"rows":$rows,"total_bytes":$totalBytes,"humans":$humans,""" +
        s""""non_humans":$nonHumans,"malicious":$malicious,"sink_rows":{""" +
        sinkRows.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}"
  }

  object Expected {
    private val num = "\"(\\w+)\":(-?\\d+)".r
    def fromJson(s: String): Expected = {
      val sinks = s.substring(s.indexOf("\"sink_rows\""))
      val top = num.findAllMatchIn(s.substring(0, s.indexOf("\"sink_rows\""))).map(m => m.group(1) -> m.group(2).toLong).toMap
      Expected(top("turns"), top("rows"), top("total_bytes"), top("humans"), top("non_humans"),
        top("malicious"), num.findAllMatchIn(sinks).map(m => m.group(1) -> m.group(2).toLong).toMap)
    }
  }

  /** Route's rule table (quarantine, relevant, bot_traffic, archive) on
    * oracle rows; "relevant" is exactly the rows `RefOracle.isRelevant` keeps
    */
  private def sinkOf(t: TranscriptTurn, p: ParsedFields): String =
    if (p.malicious != Malicious.Unknown) "quarantine"
    else if (RefOracle.isRelevant(p)) "relevant"
    else if (t.role == "tool" || p.ua.exists(_.ua_device_type == UserAgents.DeviceScript) ||
      p.ua.exists(_.ua_human == UserAgents.HumanNo)) "bot_traffic"
    else "archive"

  def expected(spec: Spec): Expected = {
    val lay = TranscriptGen.layout(spec.turns)
    var rows, bytes, humans, nonHumans, mal = 0L
    val sinks = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val conv = scala.collection.mutable.ArrayBuffer.empty[TranscriptTurn]
    def flush(): Unit = {
      val parsed = RefOracle.parseConv(conv.toSeq)
      val tot = RefOracle.counterTotals(parsed.map(_._2))
      rows += tot.handledEntries; bytes += tot.totalBytes; humans += tot.humans
      nonHumans += tot.nonHumans; mal += tot.malicious
      parsed.foreach { case (t, p) => sinks(sinkOf(t, p)) += 1 }
      conv.clear()
    }
    var i = 0L
    while (i < spec.turns) {
      val t = turn(spec, i, lay)
      if (conv.nonEmpty && conv.head.conv_id != t.conv_id) flush()
      conv += t
      i += 1
    }
    if (conv.nonEmpty) flush()
    Expected(spec.turns, rows, bytes, humans, nonHumans, mal, sinks.toMap)
  }

  /** Fills the parser's URI and referer memos with keys from a part of the
    * key space no table uses, as a long-lived process has after its first
    * 100k distinct keys. The wide table's keys then miss on every run.
    */
  def fillMemos(seed: Long): Unit = {
    var i = 0
    while (i < 110000) {
      val h = mix(mix(seed ^ 0x7f4a7c159e3779b9L) + i)
      LineParser.parseAuto(
        s"""198.51.100.1 - - [17/Nov/2025:00:00:00 +0000] "GET /fill/${hex(h, 12)} HTTP/1.1" 200 1 "https://fill${hex(h >>> 16, 10)}.example.com/" "curl/8.5.0"""")
      i += 1
    }
  }
}
