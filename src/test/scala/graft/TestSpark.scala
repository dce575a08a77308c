package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup ~5 s; suites
  * must not stop() it), built by [[Session.local]] at a fixed `local[4]` so
  * partition-sensitive assertions do not follow `SPARK_GRAFT_CPUS`. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
