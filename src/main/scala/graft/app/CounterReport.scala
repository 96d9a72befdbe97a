package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Aggregates

/** R6 counter stdout report (handlers/counter.go:326-445): the formatted
  * text report with totals, (+delta) between reporting windows (A3 — the
  * CounterValue.PreviousValue snapshot, counter.go:49-56), per-dimension
  * sections sorted by count desc (A5), top-N shrink applied per keyed
  * dimension (A4), empty keys rendered "-not set-", label width clamped
  * 10..15 (counter.go:395-445).
  *
  * Report layer: the ranking runs on the executors (`Aggregates.counterTopN`);
  * this object collects and prints its rows.
  */
object CounterReport {

  /** One report's rows: the totals by `Aggregates.counterCounts` name, and
    * the top `n` (key, count) pairs of each keyed dimension, best first.
    */
  final case class Snapshot(
      n: Int,
      totals: Map[String, Long],
      keyed: Map[String, Seq[(Option[String], Long)]])

  /** collect a snapshot from a parsed DF: one pass, one collect of at most
    * 9·n keyed rows plus the totals. `prev`'s rows fold into this one's
    * counts first, so a streaming tick keeps only the top n keys of each
    * dimension between ticks, as the reference's ShrinkCounterMapLeavingTopN
    * does (counter.go:286-324): its totals stay exact and its keyed counts
    * are an approximate top n. Empty input gives all-zero totals and no
    * keyed dimensions.
    */
  def snapshot(parsed: DataFrame, n: Int = 10, prev: Option[Snapshot] = None): Snapshot = {
    val counts = Aggregates.counterCounts(parsed)
    val folded = prev.fold(counts) { p =>
      val spark = parsed.sparkSession
      import spark.implicits._
      val kept = p.totals.toSeq.map { case (k, v) => (Aggregates.TotalsDim, Option(k), v) } ++
        p.keyed.toSeq.flatMap { case (dim, top) => top.map { case (k, v) => (dim, k, v) } }
      counts.unionByName(kept.toDF("dim", "key", "cnt"))
        .groupBy("dim", "key").agg(sum(col("cnt")).as("cnt"))
    }
    val (totalRows, keyedRows) = Aggregates.counterTopN(folded, n).collect()
      .partition(_.getString(0) == Aggregates.TotalsDim)
    // rows arrive best first within each dimension; every dimension has a
    // section, maybe empty, whenever any line was counted
    val byDim = keyedRows.toSeq.groupBy(_.getString(0))
    val keyed =
      if (totalRows.isEmpty) Map.empty[String, Seq[(Option[String], Long)]]
      else Aggregates.counterDims.map { case (dim, _) =>
        dim -> byDim.getOrElse(dim, Nil).map(r => Option(r.getString(1)) -> r.getLong(2))
      }.toMap
    Snapshot(n, totalRows.map(r => r.getString(1) -> r.getLong(2)).toMap, keyed)
  }

  private def clampLabel(s: String): String = {
    val shown = if (s.isEmpty) "-not set-" else s
    val w = math.max(10, math.min(15, shown.length))
    if (shown.length > 15) shown.take(15) else shown.padTo(w, ' ')
  }

  /** report label → `Aggregates.counterCounts` total */
  private val totalLines = Seq(
    "Total log lines" -> "handled_entries",
    "Total requests" -> "handled_entries",
    "Total bytes sent" -> "total_bytes",
    "Requests by humans" -> "humans",
    "Requests by non-humans" -> "non_humans",
    "Malicious requests" -> "malicious_requests")

  def format(cur: Snapshot, prev: Option[Snapshot], nowUtc: String = ""): String = {
    val sb = new StringBuilder
    sb.append(s"---------$nowUtc---------\n")
    totalLines.foreach { case (k, name) =>
      val v = cur.totals.getOrElse(name, 0L)
      prev match {
        case Some(p) =>
          val d = v - p.totals.getOrElse(name, 0L)
          sb.append(f"$k%-22s: $v%d (${if (d >= 0) "+" else ""}$d%d)\n")
        case None =>
          sb.append(f"$k%-22s: $v%d\n")
      }
    }
    val dimOrder = Seq("status", "method", "client_ip", "ua_family", "os_family",
      "device_type", "intent", "referer", "path")
    dimOrder.foreach { dim =>
      cur.keyed.get(dim).foreach { top =>
        sb.append(s"--- $dim (top ${cur.n}) ---\n")
        val before = prev.flatMap(_.keyed.get(dim)).map(_.toMap)
        top.foreach { case (k, v) =>
          val d = before.map(pm => v - pm.getOrElse(k, 0L))
          val delta = d.map(x => s" (${if (x >= 0) "+" else ""}$x)").getOrElse("")
          sb.append(s"${clampLabel(k.getOrElse(""))} : $v$delta\n")
        }
      }
    }
    sb.toString
  }
}
