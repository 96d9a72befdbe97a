package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Routing / sink fan-out (SURVEY.md §2 R1-R4): a deterministic rule table
  * evaluated as one `when` chain producing a `sink` label column, then a
  * single partitioned write — one pass over the data for all sinks instead
  * of one job per handler.
  *
  * Skew handling per the north rule: salted repartition on conv_id (hot
  * conversations would otherwise pin single tasks), followed by one sort
  * within partitions by (sink, bucket, conv_id, turn_idx). The partition
  * columns lead, so the partitioned writer keeps that order instead of
  * planning its own sort, and the per-turn text-equality invariant holds
  * under a stable (conv_id, turn_idx) order inside every file written.
  */
object Route {

  /** F1 "relevant" predicate (main.go:768-779). Null UA (Apache common
    * format, where the reference would nil-panic) is defined as not relevant.
    */
  val isRelevant: Column =
    col("malicious") === 0 &&
      (col("status").startsWith("2") || col("status").startsWith("5")) &&
      col("ua_device_type").isNotNull &&
      col("ua_device_type") =!= "Script" &&
      !col("ua_family").isin("Scanner", "SEOBot", "Script")

  /** The deterministic rule table, priority order. First match wins. */
  val rules: Seq[(String, Column)] = Seq(
    "quarantine" -> (col("malicious") =!= 0),
    "relevant" -> isRelevant,
    "bot_traffic" -> (col("role") === "tool" || col("ua_device_type") === "Script" ||
      col("ua_human") === "NonHuman"),
    "archive" -> lit(true))

  val sinkCol: Column = {
    val chain = rules.init.foldLeft[Option[Column]](None) { case (acc, (sink, pred)) =>
      Some(acc.fold(when(pred, lit(sink)))(_.when(pred, lit(sink))))
    }.get
    chain.otherwise(lit(rules.last._1)).as("sink")
  }

  def withSink(parsed: DataFrame): DataFrame = parsed.withColumn("sink", sinkCol)

  /** Salted exchange + in-partition stable order (north rule). The salt only
    * spreads rows of one conversation across 16 tasks; aggregates are
    * salt-insensitive because keys re-merge in their own final aggregation.
    * Rows are sorted by `sortPrefix`, then (conv_id, turn_idx).
    */
  def salted(parsed: DataFrame, partitions: Int, sortPrefix: Seq[String] = Nil): DataFrame =
    parsed
      .withColumn("_salt", pmod(hash(col("turn_idx")), lit(16)))
      .repartition(partitions, col("conv_id"), col("_salt"))
      .sortWithinPartitions((sortPrefix ++ Seq("conv_id", "turn_idx")).map(col): _*)
      .drop("_salt")

  /** Go field-name projection for the WRITE_TO_FILE JSON sink (R2,
    * handlers/writetofile.go:50-90): field names and timestamp rendering
    * match Go's json.Marshal of SBOHttpRequestLog. withKeys=true prepends
    * (conv_id, turn_idx) — not part of the sink format, used by the driver
    * correctness query to make the projection row-addressable.
    */
  def goJsonProjection(parsed: DataFrame, withKeys: Boolean = false): DataFrame = {
    val local = ParseStage.localTs(col("log_ts"), col("tz_offset_sec"))
    val off = col("tz_offset_sec")
    val tzSuffix = when(off === 0, lit("Z")).otherwise(
      concat(
        when(off < 0, lit("-")).otherwise(lit("+")),
        lpad((abs(off) / 3600).cast("int").cast("string"), 2, "0"),
        lit(":"),
        lpad(((abs(off) % 3600) / 60).cast("int").cast("string"), 2, "0")))
    val rfc3339 = when(col("log_ts").isNull, lit("0001-01-01T00:00:00Z"))
      .otherwise(concat(date_format(local, "yyyy-MM-dd'T'HH:mm:ss"), tzSuffix))
    val keys = if (withKeys) Seq(col("conv_id"), col("turn_idx")) else Nil
    parsed.select(keys ++ Seq(
      col("domain").as("Domain"),
      col("client_ip").as("ClientIP"),
      col("remote_logname").as("RemoteLogname"),
      col("remote_user").as("RemoteUser"),
      rfc3339.as("Timestamp"),
      col("method").as("Method"),
      col("path").as("Path"),
      col("path1").as("Path1"),
      col("path2").as("Path2"),
      col("path3").as("Path3"),
      col("protocol").as("Protocol"),
      col("status").as("Status"),
      col("bytes_sent").cast("int").as("BytesSent"),
      col("referer").as("Referer"),
      when(col("ua_full").isNotNull, struct(
        col("ua_full").as("FullName"),
        col("ua_os").as("OS"),
        col("ua_family").as("Family"),
        col("ua_device_type").as("DeviceType"),
        col("ua_human").as("Human"),
        col("ua_intent").as("Intent"))).as("UserAgent"),
      col("malicious").as("Malicious"),
      lit(false).as("IsOutOfOrder")): _*)
  }

  /** Go/MySQL byte-length truncation: the reference's ReduceToMaxColumnLen
    * slices BYTES (Go `str[:n]`, mysqldb.go:226-238), not characters. For
    * multi-byte UTF-8 values the two diverge (and Go will happily cut a rune
    * in half); slicing through BinaryType reproduces the exact byte
    * semantics. The fast path (`octet_length <= n`, every ASCII value) never
    * leaves StringType.
    */
  private def byteTrunc(c: Column, n: Int): Column =
    when(octet_length(c) <= n, c)
      .otherwise(substring(c.cast("binary"), 1, n).cast("string"))

  /** last-n-BYTES variant (the masked-UA rule, mysqldb.go:208,232-238) */
  private def byteTruncLast(c: Column, n: Int): Column =
    when(octet_length(c) <= n, c)
      .otherwise(substring(c.cast("binary"), -n, n).cast("string"))

  /** R4 raw-log projection: IP masking + per-column truncation, constants
    * exactly as the reference's ReduceToMaxColumnLen calls
    * (db/mysqldb.go:161-238): remote_user/path3/request_uri/referer/ua 100,
    * http_method and the five UA classification columns 20 — all BYTE
    * lengths, like Go slicing. Masked UA keeps the LAST 100 bytes
    * (mysqldb.go:208/:232-238); everything else keeps the first N. path3
    * falls back path3→path2→path1 and stays empty when all are empty
    * (mysqldb.go:176-182). host_id mirrors the sbo_rawlogs column
    * (mysqldb.go:162-165). client_ip_bin is the INET6_ATON binary form the
    * reference actually stores (mysqldb.go:168-175): 4/16 bytes, NULL when
    * masked or unparseable.
    */
  def rawLogProjection(parsed: DataFrame, maskIps: Boolean, hostId: Int = 0): DataFrame = {
    val ip = if (maskIps) lit(null).cast("string") else col("client_ip")
    val inetAtonUdf = udf((s: String) => graft.parse.Inet.inetAton(s))
    val ipBin = if (maskIps) lit(null).cast("binary") else inetAtonUdf(col("client_ip"))
    val uaTrunc = if (maskIps) byteTruncLast(col("ua_full"), 100)
    else byteTrunc(col("ua_full"), 100)
    def t20(c: String) = byteTrunc(col(c), 20).as(c)
    parsed.select(
      col("conv_id"), col("turn_idx"),
      lit(hostId).as("host_id"),
      col("log_ts").as("request_ts"),
      ip.as("client_ip"),
      ipBin.as("client_ip_bin"),
      byteTrunc(col("remote_user"), 100).as("remote_user"),
      byteTrunc(col("method"), 20).as("http_method"),
      byteTrunc(coalesce(nullif(col("path3"), lit("")), nullif(col("path2"), lit("")),
        nullif(col("path1"), lit("")), lit("")), 100).as("path3"),
      byteTrunc(col("path"), 100).as("request_uri"),
      col("status").as("http_status"),
      col("bytes_sent"),
      byteTrunc(col("referer"), 100).as("referer"),
      col("malicious").as("is_malicious"),
      uaTrunc.as("ua_string"),
      t20("ua_os"), t20("ua_family"), t20("ua_device_type"), t20("ua_human"), t20("ua_intent"))
  }

  /** content-stable partition column: event-time day bucket */
  private def dayBucket = coalesce(
    date_format(ParseStage.localTs(col("log_ts"), col("tz_offset_sec")), "yyyyMMdd"),
    lit("00010101"))

  /** the first turn of a conversation that carries a key: (key, conv_id, turn_idx) */
  type FirstTurn = (String, String, Int)

  /** What a fan-out leaves: the manifest JSON and the input's row total */
  final case class Lineage(manifest: String, rows: Long)

  /** partition columns of the fan-out write; they also lead its sort */
  private val fanOutPartitionCols = Seq("sink", "bucket")

  private val json = new ObjectMapper()

  /** The stats pass: one aggregate over `routed` for one or two group
    * families, told apart by `per_conv`:
    *  - per (sink, bucket): rows, an order-free checksum and the turn
    *    range — the fan-out manifest's entries;
    *  - per (conv_id, `firstTurnsOf`), when given: the first turn_idx.
    * The checksum is hashed before the grouping sets duplicate the rows, so
    * the line text goes no further than the projection.
    */
  private def groupStats(routed: DataFrame, firstTurnsOf: Option[Column]): DataFrame = {
    val perSink = Seq(col("sink"), col("bucket"))
    val perConv = Seq(col("conv_id"), col("key"))
    val sets = perSink +: firstTurnsOf.map(_ => perConv).toSeq
    routed
      .select(col("sink"), dayBucket.as("bucket"), col("conv_id"),
        firstTurnsOf.getOrElse(lit(null)).cast("string").as("key"), col("turn_idx"),
        xxhash64(col("conv_id"), col("turn_idx"), col("text")).as("h"))
      .groupingSets(sets, perSink ++ perConv: _*)
      .agg(
        (grouping(col("sink")) === 1).as("per_conv"),
        count(lit(1)).as("rows"),
        coalesce(bit_xor(col("h")), lit(0L)).as("checksum"),
        min(col("turn_idx")).as("min_turn"),
        max(col("turn_idx")).as("max_turn"))
  }

  /** the per-conversation first turns among collected `groupStats` rows */
  private def firstTurns(stats: Array[Row]): Seq[FirstTurn] =
    stats.toSeq.filter(_.getAs[Boolean]("per_conv"))
      .map(r => (r.getAs[String]("key"), r.getAs[String]("conv_id"), r.getAs[Int]("min_turn")))

  /** A fingerprint of the written plan that every process computes alike:
    * the output schema, each node's name and the SQL of its expressions
    * (routing rules, bucket, filters, projections, sort keys), and the
    * exchange width, a node argument rather than an expression. The plan's
    * `semanticHash` is not stable: it hashes the parse closure and the
    * parquet file format by object identity, so it changed with every JVM.
    */
  private def planFingerprint(plan: LogicalPlan, partitions: Int): Long =
    Dedup.fnv1a(plan.map { node =>
      node.nodeName + node.expressions.map(_.sql).mkString("(", ",", ")")
    }.mkString(s"${plan.schema.catalogString};$partitions;", ";", ""))

  /** `field` of `node` when it is an integer in the long range */
  private def longAt(node: JsonNode, field: String): Option[Long] =
    Some(node.path(field)).filter(n => n.isIntegralNumber && n.canConvertToLong).map(_.asLong)

  /** a stored manifest's input fingerprint (plan, rows, checksum); None
    * unless all three are integers
    */
  private def storedInput(manifest: JsonNode): Option[(Long, Long, Long)] = {
    val in = manifest.path("input")
    for (plan <- longAt(in, "plan"); rows <- longAt(in, "rows"); sum <- longAt(in, "checksum"))
      yield (plan, rows, sum)
  }

  /** A fan-out whose stats pass has run, waiting for its write: the input's
    * row total, the first turns per (conv_id, key) when the caller asked for
    * them (empty otherwise), and the manifest the write will record. `resumed` says the stored manifest already records
    * this input, plan and width, so the write has nothing to do.
    */
  final class FanOut private[Route] (val rows: Long, val firstTurns: Seq[FirstTurn],
      private[Route] val outDir: String, private[Route] val toWrite: DataFrame,
      private[Route] val manifest: ObjectNode, private[Route] val resumed: Boolean)

  private def manifestPath(outDir: String) = Paths.get(outDir, "_lineage", "manifest.json")

  /** Multi-sink fan-out with per-partition lineage manifest + resume, in two
    * halves: this one runs the stats pass, `fanOutWithLineage(fanOut)`
    * writes. The caller may start other work on the stats (the metrics
    * sink's domain dimension) before, or while, the write runs. Both halves
    * keep this name: a job's call site names its launching method, which is
    * how perfbench attributes the fan-out's two jobs to `route.fanout`.
    *
    * One salted pass, one write partitioned by (sink, event-day bucket) —
    * content-stable partition keys, not task ids (SURVEY.md §7.4 item 5).
    * The exchange is `partitions` wide (`Pipeline.run` passes the session's
    * `spark.sql.shuffle.partitions`) and each task sorts its rows by
    * (sink, bucket, conv_id, turn_idx) — the only sort in the write's plan —
    * so every file is in (conv_id, turn_idx) order.
    *
    * Every call runs one stats pass (`groupStats`): per-(sink, bucket) row
    * counts and order-free checksums, whose totals with the written plan's
    * fingerprint make the input fingerprint. The manifest records both. A
    * rerun whose fingerprint matches the stored manifest skips the write and
    * returns that manifest as it is, writing nothing — the checkpoint-resume
    * contract (north rule), in this process or another. Anything else
    * (changed input, plan or exchange width; a missing, truncated or
    * malformed manifest) rewrites and re-manifests.
    *
    * `firstTurnsOf` adds the per-(conv_id, key) first-turn family to the
    * stats pass (the metrics sink's domain dimension rides along this way),
    * so a resumed call returns the first turns as well.
    */
  def fanOutWithLineage(routed: DataFrame, outDir: String, partitions: Int,
      firstTurnsOf: Option[Column] = None): FanOut = {
    val stored: Option[ObjectNode] =
      try json.readTree(Files.readAllBytes(manifestPath(outDir))) match {
        case m: ObjectNode => Some(m)
        case _ => None // empty or not an object: recompute
      } catch { case _: java.io.IOException => None } // missing or malformed
    val toWrite = salted(routed.withColumn("bucket", dayBucket), partitions,
      sortPrefix = fanOutPartitionCols)
    // the (plan, layout) fingerprint is part of the input fingerprint: rows
    // and checksum alone are a property of the INPUT, so a changed routing
    // plan or partitions argument over unchanged input would otherwise
    // match and keep output written by the old plan (ADVICE r5)
    val planFp = planFingerprint(toWrite.queryExecution.analyzed, partitions)
    // ONE stats pass: per-(sink, bucket) rows/checksum/min/max, collected as
    // a bounded (sinks × day-buckets) result, plus the requested first turns.
    // The global input fingerprint folds out of the same rows — bit_xor is
    // associative, so the xor of the per-group checksums IS the whole-input
    // checksum. Total input scans: 2 (this aggregate + the write), 1 on a
    // resume.
    val stats = groupStats(routed, firstTurnsOf).collect()
    val groups = stats.filterNot(_.getAs[Boolean]("per_conv"))
      .sortBy(r => (r.getAs[String]("sink"), r.getAs[String]("bucket")))
    val totalRows = groups.map(_.getAs[Long]("rows")).sum
    val totalChecksum = groups.map(_.getAs[Long]("checksum")).foldLeft(0L)(_ ^ _)
    val resumed = stored.filter(m => storedInput(m).contains((planFp, totalRows, totalChecksum)))

    val manifest = resumed.getOrElse {
      val m = json.createObjectNode()
      m.putObject("input").put("plan", planFp).put("rows", totalRows).put("checksum", totalChecksum)
      val entries = m.putArray("partitions")
      groups.foreach { r =>
        entries.addObject()
          .put("sink", r.getAs[String]("sink")).put("bucket", r.getAs[String]("bucket"))
          .put("rows", r.getAs[Long]("rows")).put("checksum", r.getAs[Long]("checksum"))
          .put("min_turn", r.getAs[Int]("min_turn")).put("max_turn", r.getAs[Int]("max_turn"))
      }
      m
    }
    new FanOut(totalRows, firstTurns(stats), outDir, toWrite, manifest, resumed.isDefined)
  }

  /** The fan-out's second half: unless the stats pass found the stored
    * manifest current, removes it, writes `outDir/data` and then the new
    * manifest.
    */
  def fanOutWithLineage(fanOut: FanOut): Lineage = {
    val path = manifestPath(fanOut.outDir)
    val text =
      if (fanOut.resumed) json.writeValueAsString(fanOut.manifest)
      else {
        // a write that dies part-way must not leave the old manifest beside it
        Files.deleteIfExists(path)
        Tables.writer(fanOut.toWrite).mode(SaveMode.Overwrite)
          .partitionBy(fanOutPartitionCols: _*)
          .parquet(fanOut.outDir + "/data")
        write(path, fanOut.manifest)
      }
    Lineage(text, fanOut.rows)
  }

  /** writes a manifest, returning its JSON text */
  private def write(path: java.nio.file.Path, manifest: ObjectNode): String = {
    val text = json.writeValueAsString(manifest)
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    text
  }
}
