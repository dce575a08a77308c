package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The session memo's accounting, which `graft.Bench` and the benchmark
  * harness read per timed run: hits count, a nested build is timed at its
  * outermost frame only, and the per-run restore drops computed entries
  * but keeps the persisted-state paths. */
class CachingMemoSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  test("memo hits count, nested builds time once, and memoDropNewerThan " +
       "drops a sessionMemo entry but keeps a sessionMemoPath entry") {
    val tag = java.util.UUID.randomUUID().toString
    var builds = 0
    def tiny(): DataFrame = { builds += 1; spark.range(1).toDF() }

    val snapshot = Caching.memoKeys()
    Caching.memoWindowReset()
    val t0 = System.nanoTime()
    Caching.sessionMemo(spark, s"$tag/outer") {
      Caching.sessionMemo(spark, s"$tag/inner") { Thread.sleep(300); tiny() }
      tiny()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the inner build's 0.3 s is inside the outer timer, counted once
    val buildS = Caching.memoWindowBuildS
    assert(buildS >= 0.3 && buildS <= wall, s"build $buildS s of a $wall s call")
    assert(builds == 2 && Caching.memoWindowHits == 0L)

    Caching.sessionMemo(spark, s"$tag/outer")(tiny())
    assert(builds == 2 && Caching.memoWindowHits == 1L, "a hit rebuilt")

    val path = Caching.sessionMemoPath(spark, s"$tag/path")(_ => builds += 1)
    assert(builds == 3)
    Caching.memoDropNewerThan(snapshot)
    Caching.memoWindowReset()
    Caching.sessionMemo(spark, s"$tag/outer")(tiny())
    assert(builds == 4 && Caching.memoWindowHits == 0L, "a dropped entry hit")
    assert(Caching.sessionMemoPath(spark, s"$tag/path")(_ => builds += 1) == path)
    assert(builds == 4 && Caching.memoWindowHits == 1L, "the path memo rebuilt")
  }
}
