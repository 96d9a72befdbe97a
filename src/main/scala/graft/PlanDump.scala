package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** The dev main: dump `.explain("formatted")` of every registered query (or
  * a named subset) to plans/<tag>/<query>_<suffix>.txt, for the plan
  * artifacts of optimization rounds. Each query runs first, through the
  * QueryExecution it is explained from, so the dump shows the final adaptive
  * plan; no rows reach the driver. Per-query times come from `Bench`, per
  * layer times of `Pipeline.run` from `perfbench/`.
  *
  * `runMain graft.PlanDump <tag> <suffix> [sfDir] [name1,name2,...]`
  * e.g. `runMain graft.PlanDump r06 before /root/testdata/sf0.1`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = if (args.length > 0) args(0) else "r06"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = Session.local()
    // Bench's scan splits, so these plans are the ones Bench times
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.foreach(_ => ())
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), qe.explainString(FormattedMode))
        println(s"[plandump] wrote $name ($suffix)")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
