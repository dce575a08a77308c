package graft

/** Dev-loop plan auditor: print `.explain("formatted")` for named queries
  * (all queries when none named) — the per-operator check the build rules
  * prescribe (pushed filters, broadcast vs shuffle joins, WholeStageCodegen
  * spans) without writing any output.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
