package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Scratch

/** Drives a documents stream through a restart for the sketch-stream
  * specs. The corpus is staged ONCE as 4 parquet files; each run lands
  * copies of them in a fresh directory with ascending mtimes and streams
  * them at maxFilesPerTrigger=1, so every run sees the same 4
  * micro-batches in the same order. */
object StreamRestart {

  /** A stream starter: (source, sink dir, checkpoint dir, trigger). */
  type Start = (DataFrame, String, String, Trigger) => StreamingQuery

  final case class Staged(files: Seq[Path], schema: StructType)

  def stage(spark: SparkSession, docs: DataFrame): Staged = {
    val hold = Scratch.dir("graft_restart_hold")
    docs.repartition(4).write.mode("overwrite").parquet(hold)
    val files = Files.list(Paths.get(hold)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    require(files.size == 4, s"staged ${files.size} files, want 4")
    Staged(files, spark.read.parquet(hold).schema)
  }

  /** All 4 files land before one run; returns the sink directory. */
  def uninterrupted(spark: SparkSession, st: Staged, start: Start): String = {
    val (landing, out, ckpt) = dirs()
    land(st.files.zipWithIndex, landing)
    drain(spark, st, start, landing, out, ckpt)
    out
  }

  /** The first file lands and the run stops after its micro-batch. The
    * batch's commit is then removed, as after a crash between the sink
    * write and the checkpoint commit, so the restart REPLAYS the absorbed
    * batch before the other three files, on the same checkpoint and
    * sink. Returns the sink directory. */
  def restarted(spark: SparkSession, st: Staged, start: Start): String = {
    val (landing, out, ckpt) = dirs()
    land(st.files.zipWithIndex.take(1), landing)
    drain(spark, st, start, landing, out, ckpt)
    Files.delete(Paths.get(ckpt, "commits", "0"))
    land(st.files.zipWithIndex.drop(1), landing)
    drain(spark, st, start, landing, out, ckpt)
    out
  }

  private def dirs(): (String, String, String) =
    (Scratch.dir("graft_restart_land"), Scratch.dir("graft_restart_out"),
      Scratch.dir("graft_restart_ckpt"))

  private def land(files: Seq[(Path, Int)], landing: String): Unit = {
    val t0 = System.currentTimeMillis() - 600000L
    for ((f, i) <- files) {
      val dst = Paths.get(landing, f.getFileName.toString)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + 10000L * i))
    }
  }

  private def drain(spark: SparkSession, st: Staged, start: Start,
                    landing: String, out: String, ckpt: String): Unit = {
    val q = start(spark.readStream.schema(st.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing),
      out, ckpt, Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
  }
}
