package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.sources.Tables

/** A fresh process's rerun of the lineage fan-out, for PipelineSpec's
  * restart test: fans the transcripts of `args(0)` out into `args(1)` with
  * `args(2)` partitions and prints how many Spark jobs the fan-out launched.
  */
object LineageRerun {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.session
    // opening the table may run a job of its own; only the fan-out's count
    val routed = Route.withSink(ParseStage.parse(Tables.transcripts(spark, args(0))))
    TestBus.drain(spark.sparkContext)
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    TestOps.fanOut(routed, args(1), partitions = args(2).toInt)
    TestBus.drain(spark.sparkContext)
    println(s"jobs=${jobs.get}")
    spark.stop()
  }
}
