package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FastLocalFileSystem

/** The session [[Session.local]] builds carries every graded setting.
  * Dropping one changes plans without failing a result check (a missing
  * fallback threshold flips >128-group monoid partials to the sort-based
  * fallback), so each value is pinned here. */
class SessionSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private def conf(key: String): String = spark.sparkContext.getConf.get(key)

  test("local[4] with one shuffle partition per core") {
    assert(spark.sparkContext.master == "local[4]")
    assert(conf("spark.sql.shuffle.partitions") == "4")
  }

  test("a 4-partition shuffle takes the serialized-sort writer, not bypass-merge") {
    val exchange = spark.range(100).repartition(4, col("id")).queryExecution
      .sparkPlan.collectFirst { case e: ShuffleExchangeExec => e }.get
    assert(exchange.shuffleDependency.shuffleHandle.getClass.getSimpleName ==
      "SerializedShuffleHandle")
  }

  test("object-aggregate fallback and AQE inside cached plans") {
    assert(conf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "262144")
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("codegen class cache and constraint propagation") {
    assert(conf("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(conf("spark.sql.constraintPropagation.enabled") == "false")
  }

  test("fork-free local file system and UTC session time zone") {
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[FastLocalFileSystem].getName)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
