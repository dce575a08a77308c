package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[StreamingOps.kmvStream]]'s sketch lives in Spark's state store: the
  * checkpoint carries each lang's KMV buffer across micro-batches. Driven
  * through a restart that REPLAYS an absorbed micro-batch (its commit
  * removed, as after a crash before the commit), the stream must land on
  * the same per-lang state as an uninterrupted run, and both must equal
  * the one-shot batch sketch bit for bit. */
class KmvReplaySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def sketches(out: String): Map[String, Seq[Long]] =
    StreamingOps.readUpsertSink(spark, out, "lang").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap

  test("replaying an absorbed micro-batch leaves the state bit-identical; " +
       "any batch slicing folds to the one-shot sketch") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val staged = StreamRestart.stage(spark, docs)
    val once = StreamRestart.uninterrupted(spark, staged,
      StreamingOps.startKmvStream)
    val twice = StreamRestart.restarted(spark, staged,
      StreamingOps.startKmvStream)

    // the restart really replayed batch 0: its rows landed twice, equal
    val sink = spark.read.parquet(twice)
    val b0 = sink.where(col("batch_id") === 0L)
    assert(b0.count() > 0 && b0.count() == 2 * b0.distinct().count(),
      "batch 0 was not replayed")
    assert(sink.agg(max(col("batch_id"))).head().getLong(0) == 3L)

    // one-shot aggregate over the whole corpus (a DIFFERENT fold shape)
    val oneshot = docs
      .select(col("lang"),
        explode(graft.operators.Dedup.shingles(
          graft.operators.TextOps.tokens(col("text")))).as("sh"))
      .select(col("lang"), graft.functions.VecOps.hash60(col("sh")).as("h"))
      .groupBy(col("lang"))
      .agg(graft.functions.GraftAggs
        .kmvSketch(StreamingOps.KmvStreamK)(col("h")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sketches(once) == oneshot,
      "streamed state differs from the one-shot sketch")
    assert(sketches(twice) == sketches(once),
      "the restarted stream's state differs from an uninterrupted run")
  }
}
