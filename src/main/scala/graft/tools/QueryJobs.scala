package graft.tools

import org.apache.spark.sql.functions._

/** Dev-loop job-level profiler: runs a named SparkEntry query (warmup +
  * 2 timed runs) and dumps every Spark JOB of the last run — duration,
  * task count, task-time sum, and the call site — so a wall regression
  * with flat task time self-localizes to the jobs that appeared.
  * Usage: runMain graft.tools.QueryJobs SF_DIR QUERY [QUERY...] */
object QueryJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.drop(1)
    val spark = graft.Session.local(graft.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // dev-loop A/B knob: GRAFT_SET="conf=v;conf=v" applied to the session
    sys.env.get("GRAFT_SET").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })

    case class J(id: Int, var desc: String = "", var t0: Long = 0L,
                 var t1: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
        val j = J(e.jobId, site, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(e.stageId, -1)
        val j = jobs.get(jid)
        if (j != null && e.taskInfo != null) {
          j.synchronized { j.tasks += 1; j.taskMs += e.taskInfo.duration }
        }
      }
    })

    def force(name: String): Unit = {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val tBuild = System.nanoTime()
      val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
      val sunk = df.select(h.cast("double").as("h")).agg(sum(col("h")))
      sunk.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      sunk.collect()
      val tExec = System.nanoTime()
      println(f"[qjobs]  phase build=${(tBuild - t0) / 1e9}%5.2f " +
        f"plan=${(tPlan - tBuild) / 1e9}%5.2f exec=${(tExec - tPlan) / 1e9}%5.2f")
      ()
    }
    names.foreach { name =>
      force(name) // warmup
      spark.catalog.clearCache()
      force(name) // second warm (stabilize JIT)
      spark.catalog.clearCache()
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      force(name)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      import scala.jdk.CollectionConverters._
      val xs = jobs.values.asScala.toVector.sortBy(_.id)
      println(f"[qjobs] ===== $name wall=$wall%.2f s n_jobs=${xs.size} " +
        f"job_wall_sum=${xs.map(j => (j.t1 - j.t0) / 1e3).sum}%.2f")
      xs.foreach { j =>
        println(f"[qjobs]  job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%6.2f s " +
          f"tasks=${j.tasks}%3d task_s=${j.taskMs / 1e3}%7.2f  ${j.desc.take(90)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
