package graft.app

import org.apache.spark.sql.DataFrame

import graft.operators.Aggregates

/** R6 counter stdout report (handlers/counter.go:326-445): the formatted
  * text report with totals, (+delta) between reporting windows (A3 — the
  * CounterValue.PreviousValue snapshot, counter.go:49-56), per-dimension
  * sections sorted by count desc (A5), top-N shrink applied per keyed
  * dimension (A4), empty keys rendered "-not set-", label width clamped
  * 10..15 (counter.go:395-445).
  *
  * Report layer: operates on collected aggregate rows (tiny), not a Spark
  * operator.
  */
object CounterReport {

  final case class Snapshot(
      totals: Map[String, Long],
      keyed: Map[String, Map[String, Long]])

  /** collect a snapshot from a parsed DF: one pass, one small collect.
    * Empty input gives all-zero totals and no keyed dimensions.
    */
  def snapshot(parsed: DataFrame): Snapshot = {
    val (totalRows, keyedRows) = Aggregates.counterCounts(parsed).collect()
      .partition(_.getString(0) == Aggregates.TotalsDim)
    val t = totalRows.map(r => r.getString(1) -> r.getLong(2)).toMap.withDefaultValue(0L)
    val totals = Map(
      "Total log lines" -> t("handled_entries"),
      "Total requests" -> t("handled_entries"),
      "Total bytes sent" -> t("total_bytes"),
      "Requests by humans" -> t("humans"),
      "Requests by non-humans" -> t("non_humans"),
      "Malicious requests" -> t("malicious_requests"))
    val keyed = keyedRows
      .groupBy(_.getString(0))
      .map { case (dim, rows) =>
        dim -> rows.map(r => Option(r.getString(1)).getOrElse("") -> r.getLong(2)).toMap
      }
    Snapshot(totals, keyed)
  }

  /** fold two snapshots (streaming ticks accumulate micro-batches) */
  def merge(a: Snapshot, b: Snapshot): Snapshot = Snapshot(
    totals = (a.totals.keySet ++ b.totals.keySet).iterator
      .map(k => k -> (a.totals.getOrElse(k, 0L) + b.totals.getOrElse(k, 0L))).toMap,
    keyed = (a.keyed.keySet ++ b.keyed.keySet).iterator.map { d =>
      val ma = a.keyed.getOrElse(d, Map.empty[String, Long])
      val mb = b.keyed.getOrElse(d, Map.empty[String, Long])
      d -> (ma.keySet ++ mb.keySet).iterator
        .map(k => k -> (ma.getOrElse(k, 0L) + mb.getOrElse(k, 0L))).toMap
    }.toMap)

  private def clampLabel(s: String): String = {
    val shown = if (s.isEmpty) "-not set-" else s
    val w = math.max(10, math.min(15, shown.length))
    if (shown.length > 15) shown.take(15) else shown.padTo(w, ' ')
  }

  /** top-N by count with deterministic tie-break (key asc) — documented
    * divergence from the reference's Go-map-iteration ties (A4)
    */
  def topN(m: Map[String, Long], n: Int): Seq[(String, Long)] =
    m.toSeq.sortBy { case (k, v) => (-v, k) }.take(n)

  def format(cur: Snapshot, prev: Option[Snapshot], topNSize: Int = 10,
      nowUtc: String = ""): String = {
    val sb = new StringBuilder
    sb.append(s"---------$nowUtc---------\n")
    val totalOrder = Seq("Total log lines", "Total requests", "Total bytes sent",
      "Requests by humans", "Requests by non-humans", "Malicious requests")
    totalOrder.foreach { k =>
      val v = cur.totals(k)
      prev match {
        case Some(p) =>
          val d = v - p.totals.getOrElse(k, 0L)
          sb.append(f"$k%-22s: $v%d (${if (d >= 0) "+" else ""}$d%d)\n")
        case None =>
          sb.append(f"$k%-22s: $v%d\n")
      }
    }
    val dimOrder = Seq("status", "method", "client_ip", "ua_family", "os_family",
      "device_type", "intent", "referer", "path")
    dimOrder.foreach { dim =>
      cur.keyed.get(dim).foreach { m =>
        sb.append(s"--- $dim (top $topNSize) ---\n")
        topN(m, topNSize).foreach { case (k, v) =>
          val d = prev.flatMap(_.keyed.get(dim)).map(pm => v - pm.getOrElse(k, 0L))
          val delta = d.map(x => s" (${if (x >= 0) "+" else ""}$x)").getOrElse("")
          sb.append(s"${clampLabel(k)} : $v$delta\n")
        }
      }
    }
    sb.toString
  }
}
