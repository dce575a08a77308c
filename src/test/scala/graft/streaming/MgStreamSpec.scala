package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the claims [[StreamingOps.mgStream]]'s scaladoc makes about the
  * streamed Misra–Gries summary: it lives in Spark's state store, so a
  * restart that REPLAYS an absorbed micro-batch (its commit removed, as
  * after a crash before the commit) merges that batch once — the state
  * equals an uninterrupted run's and the sequential fold of its four
  * batches, although MG (unlike KMV's semilattice) is not idempotent.
  * The state respects its m-entry budget, the compress
  * step genuinely decrements on this fixture (m < vocabulary — the state
  * is a real sketch, not exact counts), and the mergeable-summaries error
  * theorem est ≤ tf ∧ tf − est ≤ (n − Σ est)/(m+1) ≤ n/(m+1) holds for
  * EVERY token. */
class MgStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def summary(out: String): Map[String, Long] =
    StreamingOps.readMgSink(spark, out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("batched MG fold keeps the m-entry budget, really decrements, and " +
       "the merged-summary error bound holds for every token") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val staged = StreamRestart.stage(spark, docs)
    val once = summary(StreamRestart.uninterrupted(spark, staged,
      StreamingOps.startMgStream))
    val out = StreamRestart.restarted(spark, staged, StreamingOps.startMgStream)
    val b0 = spark.read.parquet(out).where(col("batch_id") === 0L)
    assert(b0.count() == 2L, "batch 0 was not replayed")
    val st = summary(out)
    assert(st == once,
      "the restarted stream's state differs from an uninterrupted run")
    // ...and both equal the sequential fold of the 4 micro-batches: each
    // landed file's summary merged once into the running state
    val m = StreamingOps.MgStreamM
    val batches = staged.files.map { f =>
      val r = spark.read.parquet(f.toString)
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
        .agg(graft.functions.GraftAggs.mgSketch(m)(col("token")))
        .head()
      graft.functions.MgBuf(r.getMap[String, Long](0).toMap)
    }
    assert(st == batches.reduce(new graft.functions.MgMonoid(m).combine).counts,
      "the streamed state is not the sequential fold of its batches")
    assert(st.nonEmpty && st.size <= m, s"state size ${st.size} exceeds m=$m")

    // exact counts recomputed from scratch
    val exact = docs.select(
        explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    // the sketch regime is real: fewer state entries than vocabulary,
    // and at least one estimate strictly below its exact count
    assert(st.size < exact.size, "m >= vocab: the compress never fired")
    assert(exact.exists { case (t, tf) => st.getOrElse(t, 0L) < tf },
      "no decrement happened — not a sketch")
    // the theorem, for EVERY token (absent from state => estimate 0), in
    // its tight form: each compress lowers the summary's total by at least
    // m+1 times what it takes from any one token, so
    // tf − est ≤ (n − Σ est)/(m+1) ≤ n/(m+1)
    val slack = (n - st.values.sum).toDouble / (m + 1)
    exact.foreach { case (t, tf) =>
      val est = st.getOrElse(t, 0L)
      assert(est <= tf, s"overestimate on $t: $est > $tf")
      assert((tf - est).toDouble <= slack,
        s"bound broken on $t: $tf - $est > $slack")
    }
  }
}
