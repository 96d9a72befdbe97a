package graft

import org.apache.spark.sql.SparkSession

/** One local session shared per suite. */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }
}
