package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.model.MetricType

/** Aggregation operators (SURVEY.md §2 A1-A10). All are single-shuffle
  * declarative plans: Catalyst plants partial (map-side) aggregation before
  * the exchange, which is what makes the keyed counts scale — per-partition
  * hash maps combine before any data moves.
  */
object Aggregates {

  /** A1 grand totals (counter.go:137-203): one row. */
  def totals(parsed: DataFrame): DataFrame = parsed.agg(
    count(lit(1)).as("handled_entries"),
    count(lit(1)).as("total_requests"),
    sum(col("bytes_sent")).as("total_bytes"),
    sum(when(col("ua_human") === "Human", 1L).otherwise(0L)).as("humans"),
    sum(when(col("ua_human") === "NonHuman", 1L).otherwise(0L)).as("non_humans"),
    sum(when(col("malicious") =!= 0, 1L).otherwise(0L)).as("malicious_requests"))

  /** the 9 counter dimensions (counter.go:67-75) in declaration order */
  val counterDims: Seq[(String, String)] = Seq(
    "client_ip" -> "client_ip",
    "device_type" -> "ua_device_type",
    "intent" -> "ua_intent",
    "method" -> "method",
    "status" -> "status",
    "ua_family" -> "ua_family",
    "os_family" -> "ua_os",
    "referer" -> "referer",
    "path" -> "path")

  /** A2 keyed counts, long format (dim, key, cnt). One unpivot + ONE shuffle
    * for all 9 dimensions instead of 9 separate groupBys.
    */
  def keyedCounts(parsed: DataFrame): DataFrame = {
    val entries = counterDims.map { case (dim, c) =>
      struct(lit(dim).as("dim"), col(c).cast("string").as("key"))
    }
    parsed
      .select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.dim").as("dim"), col("e.key").as("key"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** dim label under which `counterCounts` reports the A1 totals */
  val TotalsDim = "_totals"

  /** the A1 totals `counterCounts` reports under `TotalsDim`, by `totals`'
    * column name, with each row's increment (total_requests equals
    * handled_entries, so only the latter is counted)
    */
  private def counterTotals: Seq[(String, Column)] = Seq(
    "handled_entries" -> lit(1L),
    "total_bytes" -> col("bytes_sent"),
    "humans" -> when(col("ua_human") === "Human", 1L).otherwise(0L),
    "non_humans" -> when(col("ua_human") === "NonHuman", 1L).otherwise(0L),
    "malicious_requests" -> when(col("malicious") =!= 0, 1L).otherwise(0L))

  /** A1 + A2 fused for the COUNTER handler: the totals and the 9 keyed
    * dimensions as one long (dim, key, cnt) table from one explode and ONE
    * hash aggregate. Every row counts toward every total, so each total is
    * present whenever the input has a row; every sum is coalesced, so no
    * total is NULL.
    */
  def counterCounts(parsed: DataFrame): DataFrame = {
    def entry(dim: String, key: Column, inc: Column): Column =
      struct(lit(dim).as("dim"), key.cast("string").as("key"), inc.cast("long").as("inc"))
    val entries = counterDims.map { case (dim, c) => entry(dim, col(c), lit(1L)) } ++
      counterTotals.map { case (name, inc) => entry(TotalsDim, lit(name), inc) }
    parsed
      .select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.dim").as("dim"), col("e.key").as("key"))
      .agg(coalesce(sum(col("e.inc")), lit(0L)).as("cnt"))
  }

  /** A4/A5 COUNTER report rows from (dim, key, cnt) counts: each keyed
    * dimension's top `n` keys, plus the `TotalsDim` rows whole, as (dim,
    * key, cnt, rank) with rank 1 the best of its dimension. Ranked by cnt
    * descending, then key in Spark's string order (UTF-8 bytes) with the
    * null key first — a deterministic stand-in for the reference's Go map
    * iteration order on ties (counter.go:286-324, SURVEY.md §2 A4).
    *
    * Catalyst's `collect_top_k` ranks on the executors, holding at most
    * max(n, #totals) rows per dimension. It reads the counts through
    * `coalesce(1)`, a narrow merge of their partitions into one task, not
    * through an exchange on dim: under AQE every exchange is one more job.
    * So the ranking runs in the task that finishes the counts' own
    * aggregate, partition by partition, which AQE already coalesces to one
    * task when the counts are small.
    */
  def counterTopN(counts: DataFrame, n: Int): DataFrame =
    counts.coalesce(1)
      .groupBy(col("dim"))
      .agg(Bridge.collectTopK(struct((-col("cnt")).as("neg_cnt"), col("key")),
        math.max(n, counterTotals.size), smallest = true).as("top"))
      .select(col("dim"), posexplode(col("top")).as(Seq("pos", "e")))
      .filter(col("dim") === TotalsDim || col("pos") < n)
      .select(col("dim"), col("e.key").as("key"), (-col("e.neg_cnt")).as("cnt"),
        (col("pos") + 1).as("rank"))

  /** A4 top-N per dimension with a deterministic tie-break (key asc) — the
    * reference breaks ties by Go map iteration order, i.e. nondeterminism we
    * deliberately do not reproduce (SURVEY.md §2 A4).
    */
  def topN(parsed: DataFrame, dimCol: String, n: Int): DataFrame = {
    val counts = parsed.groupBy(col(dimCol).as("key")).agg(count(lit(1)).as("cnt"))
    // orderBy+limit plans TakeOrderedAndProject: each partition keeps a
    // bounded top-N, the driver merges — no single-task global sort of all
    // distinct keys (the unpartitioned-window plan this replaces would
    // funnel the full key cardinality into one executor at scale).
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(n)
    // rank derived over the ≤n surviving rows only (trivially small input)
    val w = Window.orderBy(col("cnt").desc, col("key").asc)
    top.withColumn("rank", row_number().over(w))
  }

  /** A6+A7: the 12 metric families unpivoted into long format and summed by
    * (conv, type, key, window) — the whole METRICS handler as one explode +
    * one hash aggregate (metricgenerator.go:86-126; store SBOMetrics.go).
    * Equal to the oracle's evictions+flush totals because the generator
    * bounds lateness below the eviction horizon (SURVEY.md §7.4 item 2).
    */
  def metricRows(parsed: DataFrame, windowMinutes: Int = 10,
      keyCols: Seq[String] = Seq("conv_id")): DataFrame = {
    def ms(t: Int, key: Column, v: Column): Column = struct(
      lit(t).as("metric_type"), key.cast("string").as("key_value"), v.cast("long").as("inc"))
    val is2xx = col("status").startsWith("2")
    val entries = array(
      ms(MetricType.ReqCount, lit(""), lit(1L)),
      ms(MetricType.BytesSent, lit(""), col("bytes_sent")),
      ms(MetricType.HttpStatus, col("status"), lit(1L)),
      ms(MetricType.Method, col("method"), lit(1L)),
      when(length(col("referer")) > 0, ms(MetricType.Referer, col("referer"), lit(1L))),
      when(is2xx, ms(MetricType.Path, col("path1"), lit(1L))),
      when(is2xx && length(col("path2")) > 0, ms(MetricType.Path, col("path2"), lit(1L))),
      when(is2xx && length(col("path3")) > 0, ms(MetricType.Path, col("path3"), lit(1L))),
      ms(MetricType.UaFamily, col("ua_family"), lit(1L)),
      ms(MetricType.OsFamily, col("ua_os"), lit(1L)),
      ms(MetricType.DeviceType, col("ua_device_type"), lit(1L)),
      ms(MetricType.IsHuman, col("ua_human"), lit(1L)),
      ms(MetricType.RequestIntent, col("ua_intent"), lit(1L)))
    // null entries (unsatisfied `when`s) are dropped AFTER the explode: a
    // plain Filter is whole-stage-codegen'd, while the seemingly-cleaner
    // `filter(entries, _.isNotNull)` is a HigherOrderFunction with no codegen
    // and measurably slows the stage down.
    parsed
      .select(
        keyCols.map(col) ++ Seq(
          ParseStage.timeWindowCol(col("log_ts"), col("tz_offset_sec"), windowMinutes).as("time_window"),
          explode(entries).as("m")): _*)
      .filter(col("m").isNotNull)
      .groupBy(
        keyCols.map(col) ++ Seq(
          col("m.metric_type").as("metric_type"),
          col("m.key_value").as("key_value"),
          col("time_window")): _*)
      .agg(sum(col("m.inc")).as("metric_value"))
  }

  /** window → count distribution (A7 exercised standalone) */
  def windowDistribution(parsed: DataFrame, windowMinutes: Int = 10): DataFrame =
    parsed
      .select(ParseStage.timeWindowCol(col("log_ts"), col("tz_offset_sec"), windowMinutes).as("time_window"))
      .groupBy("time_window")
      .agg(count(lit(1)).as("cnt"))
}
