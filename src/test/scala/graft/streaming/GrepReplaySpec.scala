package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.PhraseIndex

/** [[StreamingOps.grepStream]] writes each micro-batch's matches from
  * `foreachBatch`, which Spark runs at least once. Driven through a
  * restart that REPLAYS an absorbed micro-batch (its commit removed, as
  * after a crash before the commit), the sink must read back the same
  * matches as an uninterrupted run, and both must equal the one-shot grep
  * of the whole corpus. */
class GrepReplaySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).toSeq.sorted

  test("replaying an absorbed micro-batch leaves the grep sink unchanged; " +
       "the batches union to the one-shot grep") {
    val phrases = graft.queries.TextQueries.GrepPhrases.toDF("phrase_id", "phrase")
    // every fourth doc matches no phrase; the others hit one or two
    val texts = Seq("the table value part of it", "a batch window spark job",
      "window window then slow fast", "nothing to see")
    val docs = (0L until 48L).map(i => (i, s"${texts((i % 4).toInt)} $i"))
      .toDF("doc_id", "text")
    val staged = StreamRestart.stage(spark, docs)
    val start: StreamRestart.Start = StreamingOps.startGrepStream(phrases)
    val once = rows(StreamingOps.readGrepSink(spark,
      StreamRestart.uninterrupted(spark, staged, start)))
    val twice = rows(StreamingOps.readGrepSink(spark,
      StreamRestart.restarted(spark, staged, start)))
    val oneshot = rows(PhraseIndex.matches(docs, phrases))
    assert(oneshot.size == 48, "expected 48 phrase hits")
    assert(once == oneshot, "streamed matches differ from the one-shot grep")
    assert(twice == once,
      "the restarted stream's matches differ from an uninterrupted run")
  }
}
