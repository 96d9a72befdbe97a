package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Attributes the Spark work of an unmodified `Pipeline.run` to the
  * program's modules. Each SQL execution carries the call site of the action
  * that launched it; the first program frame of that call site, matched by
  * file and method (never by line), names the site. Every job, stage and
  * task then inherits the site of its execution.
  */
object Layers {

  /** (source file, method) of the launching frame → site name */
  val sites: Map[(String, String), String] = Map(
    ("Tables.scala", "transcripts") -> "sources.scan",
    ("Route.scala", "fanOutWithLineage") -> "route.fanout",
    ("CounterReport.scala", "snapshot") -> "aggregates.counter",
    ("Enrich.scala", "firstSightDims") -> "enrich.domain_dim",
    ("Sinks.scala", "writeMetrics") -> "sinks.metrics",
    ("Sinks.scala", "writeJsonRelog") -> "sinks.relog",
    ("Sinks.scala", "writeRawLogs") -> "sinks.rawlogs",
    ("Pipeline.scala", "run") -> "app.count")

  val Unattributed = "unattributed"

  // a frame of a long-form call site, e.g.
  //   graft.operators.Sinks$.writeJsonRelog(Sinks.scala:133)
  private val Frame = """^\s*(graft\.[\w.$]+)\.([\w$]+)\(([\w.]+):\d+\)""".r

  /** site of a long-form call site: its first program frame outside the benchmark */
  def siteOf(callSite: String): String =
    callSite.split('\n').iterator
      .collect { case Frame(cls, method, file) if !cls.startsWith("graft.perfbench") => (file, method) }
      .nextOption()
      .map(sites.getOrElse(_, Unattributed))
      .getOrElse(Unattributed)

  /** Totals of one site over one recording window */
  final class Totals {
    var jobs = 0
    var wallMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var recordsRead = 0L
    var bytesRead = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
  }

  /** Records per-site execution wall time and per-task metrics. Events
    * arrive on Spark's listener thread; read a window only after draining
    * the bus (see `Bus.drain`).
    */
  final class Recorder extends SparkListener {
    private val execSite = mutable.Map.empty[Long, String]
    private val execStart = mutable.Map.empty[Long, Long]
    private val stageSite = mutable.Map.empty[Int, String]
    private val totals = mutable.Map.empty[String, Totals]
    private val unattributedSites = mutable.ArrayBuffer.empty[String]

    private def at(site: String): Totals = totals.getOrElseUpdate(site, new Totals)

    override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
      event match {
        case e: SparkListenerSQLExecutionStart =>
          // nested executions (a write command's inner plan) share the
          // root's site and are not timed twice
          val root = e.rootExecutionId.getOrElse(e.executionId)
          val site = execSite.getOrElse(root, siteOf(e.details))
          execSite(e.executionId) = site
          if (root == e.executionId) {
            execStart(e.executionId) = e.time
            if (site == Unattributed) unattributedSites += e.details.linesIterator.take(4).mkString(" | ")
          }
        case e: SparkListenerSQLExecutionEnd =>
          execStart.remove(e.executionId).foreach { t0 =>
            at(execSite(e.executionId)).wallMs += e.time - t0
          }
        case _ =>
      }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val site = exec.flatMap(id => execSite.get(id.toLong))
        .getOrElse(js.stageInfos.headOption.map(s => siteOf(s.details)).getOrElse(Unattributed))
      if (site == Unattributed)
        unattributedSites += js.stageInfos.headOption.map(_.details.linesIterator.take(4).mkString(" | ")).getOrElse("?")
      at(site).jobs += 1
      js.stageIds.foreach(stageSite(_) = site)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      if (m != null) {
        val t = at(stageSite.getOrElse(te.stageId, Unattributed))
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.recordsRead += m.inputMetrics.recordsRead
        t.bytesRead += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

    /** the window so far, keyed by site, and the call sites left
      * unattributed; starts a new window
      */
    def take(): (Map[String, Totals], Seq[String]) = synchronized {
      val out = (totals.toMap, unattributedSites.toList)
      execSite.clear(); execStart.clear(); stageSite.clear(); totals.clear()
      unattributedSites.clear()
      out
    }
  }
}
