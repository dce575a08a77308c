package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastLocalFileSystem, Scratch}

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

  test("pages, broadcast chunks and spill buffers stay below half a G1 region") {
    val region = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong
    val env = org.apache.spark.SparkEnv.get
    if (region == 0) Scratch.RegionSizedBuffers.foreach(k => assert(!env.conf.contains(k), k))
    else {
      // read each the way Spark does: the broadcast block size in KiB
      val sizes = Seq(
        "pageSizeBytes" -> env.memoryManager.pageSizeBytes,
        "spark.buffer.pageSize" -> env.conf.getSizeAsBytes("spark.buffer.pageSize"),
        "spark.broadcast.blockSize" -> env.conf.getSizeAsKb("spark.broadcast.blockSize") * 1024,
        "spark.shuffle.spill.diskWriteBufferSize" ->
          env.conf.getSizeAsBytes("spark.shuffle.spill.diskWriteBufferSize"))
      sizes.foreach { case (k, v) => assert(v > 0 && v < region / 2, s"$k = $v, region $region") }
    }
  }
}
