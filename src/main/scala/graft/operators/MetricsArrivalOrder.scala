package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.model.MetricRow
import graft.oracle.RefOracle

/** Distributed implementation of the reference's EXACT arrival-order metric
  * semantics (metrics/SBOMetrics.go addValue/doTimeWindowTracking including
  * the bounded-window eviction and silent late-drop) — for inputs where
  * stragglers DO cross the eviction horizon and the order-insensitive batch
  * aggregation (Aggregates.metricRows) would legitimately differ.
  *
  * Scale path: Spark's sorted-group operator. `flatMapSortedGroups` plans an
  * exchange on conv_id (one conversation = one reference "file" = one state
  * machine), as wide as `spark.sql.shuffle.partitions`, and a sort by
  * (conv_id, turn_idx); each conversation's turns then stream through its
  * state machine — state is O(keys x windowSize) per conversation, exactly
  * like the reference.
  *
  * Hot-conversation skew note: a conversation must live in one partition
  * (its state is sequential by definition — same as the reference's one
  * consumer goroutine per file). Many conversations hash across partitions;
  * the salted fan-out used elsewhere cannot apply here.
  */
object MetricsArrivalOrder {

  def metricRows(parsed: DataFrame, windowMinutes: Int = 10,
      metricsWindowSize: Int = 3): Dataset[MetricRow] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val turns = parsed
      .select(col("conv_id"), col("turn_idx"), col("log_ts"), col("tz_offset_sec"),
        col("status"), col("method"), col("referer"), col("path1"), col("path2"),
        col("path3"), col("bytes_sent"), col("ua_family"), col("ua_os"),
        col("ua_device_type"), col("ua_human"), col("ua_intent"))
    turns.groupBy(col("conv_id")).as[String, Row](Encoders.STRING, Encoders.row(turns.schema))
      .flatMapSortedGroups(col("turn_idx")) { (conv, rows) =>
        val state = new RefOracle.MetricState(metricsWindowSize)
        rows.foreach { r =>
          val p = graft.model.ParsedFields(
            domain = "", client_ip = "", remote_logname = "", remote_user = "",
            log_ts = Option(r.getTimestamp(2)), tz_offset_sec = r.getInt(3),
            method = r.getString(5), path = "", path1 = r.getString(7),
            path2 = r.getString(8), path3 = r.getString(9), protocol = "",
            status = r.getString(4), bytes_sent = r.getLong(10),
            referer = r.getString(6),
            ua = Option(r.getString(11)).map(f => graft.model.UaInfo("", r.getString(12), f, r.getString(13), r.getString(14), r.getString(15))),
            malicious = 0, format = "")
          RefOracle.handleMetrics(state, p, windowMinutes)
        }
        state.allRows()
          .groupBy { case (mt, k, tw, _) => (mt, k, tw) }
          .map { case ((mt, k, tw), rs) => MetricRow(conv, mt, k, tw, rs.map(_._4).sum) }
      }
  }
}
