package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The program's one SparkSession factory (the graded `Bench` and `Verify`
  * keep their own builders). Its settings are defaults: whatever the launcher
  * already set — spark-submit's `--master` and `--conf`, or `-Dspark.…` — wins.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's core count */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session's configuration: the launcher's `spark.*` settings over
    * local[cpus], `cpus` shuffle partitions, a codegen cache that holds a
    * whole query suite, UTC and no UI.
    */
  def conf(cpus: Int = defaultCpus): SparkConf = {
    val c = new SparkConf() // loads the launcher's spark.* system properties
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.app.name", "graft")
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
      // the default 100-entry cache thrashes on a suite of ~50 plans: a query
      // revisited after ten others pays a 1-2 s recompile (see Bench.session)
      .setIfMissing("spark.sql.codegen.cache.maxEntries", "1000")
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
    // a local driver binds to loopback; a cluster's executors must reach it
    if (c.get("spark.master").startsWith("local")) c.setIfMissing("spark.driver.host", "localhost")
    c
  }

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder().config(conf(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
