package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{ParsedTurn, TranscriptTurn}
import graft.parse.LineParser

/** The parse stage: one single-pass struct parse per row (SURVEY.md §2
  * P1-P12), as a typed mapPartitions over Dataset[TranscriptTurn].
  *
  * Why not per-column `regexp_extract`: the built-in re-runs the regex for
  * every projected field (SURVEY.md §4). Why not a struct-returning Catalyst
  * UDF: measured both ways —
  *  - deterministic UDF: CollapseProject / predicate pushdown can inline the
  *    alias and re-evaluate the UDF per reference;
  *  - `asNondeterministic()` UDF: single evaluation, but any stage fused with
  *    a Nondeterministic expression loses whole-stage codegen, which made the
  *    downstream explode+aggregate pipeline ~12x slower (4s → 46s at sf0.1).
  * The object-level mapPartitions guarantees exactly-once per-row parsing,
  * keeps every operator above the serialization boundary codegen'd, and the
  * encoder's serializer is itself code-generated.
  */
object ParseStage {

  /** transcripts(conv_id, turn_idx, role, text, tool, ts) → flat parsed DF.
    * Unparseable lines are dropped (the reference counts them as errors and
    * emits nothing, main.go:753-756 / :789).
    *
    * quirk=true reproduces main.go:744's variable shadowing end-to-end: the
    * format-detection line — the first line (in turn order) of each
    * conversation that parses — is itself dropped, exactly like
    * RefOracle.parseConv(quirk = true). Default emits it (documented
    * divergence, SURVEY.md §2 P1).
    */
  def parse(transcripts: DataFrame, quirk: Boolean = false): DataFrame = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    val flat = transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"))
      .as[TranscriptTurn]
      .mapPartitions(_.flatMap(t => LineParser.parseAuto(t.text).map(p => ParsedTurn(t, p))))
      .toDF()
    if (!quirk) flat
    else {
      // detection line = min parsed turn_idx per conversation (parse order
      // IS turn order). A conv-partitioned window — scale-safe, one shuffle.
      // Alternatives considered (VERDICT r4 item 8) and rejected: a
      // secondary-sort mapPartitions costs the same full-row exchange +
      // sort this window plans; a tiny (conv, min) aggregate broadcast
      // back would avoid the full-row shuffle but the dim is #convs rows
      // (~10⁸ at 10¹² turns) — far beyond broadcast. One full-row
      // exchange is the floor for this semantics; this is it.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
      flat.withColumn("_det", min(col("turn_idx")).over(w))
        .filter(col("turn_idx") =!= col("_det"))
        .drop("_det")
    }
  }

  /** Instant shifted by its own UTC offset: formatting the result in a UTC
    * session yields the event's local-time fields. Built from the passed
    * Columns (cast arithmetic, not a name-bound expr): log timestamps are
    * whole seconds by construction (strptime stops at seconds), so the
    * long-seconds round-trip is exact.
    */
  def localTs(logTs: Column, tzOffsetSec: Column): Column =
    (logTs.cast("long") + tzOffsetSec.cast("long")).cast("timestamp")

  /** Event-time window as int64 yyyyMMddHHmm, minute floored to the window
    * size, computed in the event's own UTC offset — exact integer semantics
    * of metricgenerator.go:131-158, whose switch floors every size other
    * than 1, 5, 15, 30 and 60 to 10 minutes (like `RefOracle.timeWindow`).
    * Null timestamp → the Go zero-time window.
    */
  def timeWindowCol(logTs: Column, tzOffsetSec: Column, windowMinutes: Int = 10): Column = {
    val size = if (Set(1, 5, 15, 30, 60).contains(windowMinutes)) windowMinutes else 10
    val local = localTs(logTs, tzOffsetSec)
    val minuteFloored =
      if (size == 60) lit(0L)
      else (minute(local) - (minute(local) % size)).cast("long")
    // r6 (opt guide §1.2 per-task work): integer date-part arithmetic in
    // place of date_format("yyyyMMddHH") — the formatter built a per-row
    // string only to cast it back to long. year/month/day/hour are
    // codegen'd intrinsics over the same local timestamp, so the int64
    // yyyyMMddHHmm value is identical for every 4-digit-year date (pinned
    // vs the Scala oracle in ParseProps/AppSpec and by the DuckDB rows).
    val ymdh = ((year(local).cast("long") * 100L + month(local)) * 100L +
      dayofmonth(local)) * 100L + hour(local)
    coalesce(
      ymdh * 100L + minuteFloored,
      lit(101010000L)) // Go zero time "0001010100"+"00" (error ignored at httpservers.go:175)
  }
}
