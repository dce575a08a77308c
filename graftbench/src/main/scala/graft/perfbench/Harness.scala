package graft.perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.SparkEntry
import graft.operators.{Caching, PairPlan}
import graft.sources.Tables

/** The benchmark's JVM side: one Spark session at `local[N]`, one client in
  * a closed loop. It executes the plan `run.py` wrote (the operation order
  * of every pass, already permuted by the seed) and writes one JSON object
  * per line to the output file; `run.py` turns those records into metrics.
  *
  * Usage: `Harness PLAN OUT`. Plan lines are `key=value`; `warm=` and
  * `pass=` lines carry comma-separated operation names, one line per pass.
  *
  * Layers are observed from outside the library only: around the calls
  * into `SparkEntry.queries` / `MatrixQueries.modalKernelsBig`, through
  * Spark's public listener APIs, `CodegenMetrics`, the JVM management
  * beans and the public `operators.Caching` memo counters.
  */
object Harness {

  final case class Plan(
      sf: String, cores: Int, seconds: Double, trace: Boolean,
      setupReps: Int, minPasses: Int, warm: Seq[Seq[String]],
      passes: Seq[Seq[String]], kernels: Seq[String], kernelLead: String,
      kernelPairs: Int, warehouse: String)

  def readPlan(path: String): Plan = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val kv = lines.map { l =>
      val i = l.indexOf('=')
      (l.substring(0, i), l.substring(i + 1))
    }
    def one(k: String): String = kv.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"plan: missing $k"))
    def lists(k: String): Seq[Seq[String]] =
      kv.filter(_._1 == k).map(_._2.split(',').toSeq.filter(_.nonEmpty))
    Plan(one("sf"), one("cores").toInt, one("seconds").toDouble,
      one("trace") == "1", one("setup_reps").toInt, one("min_passes").toInt,
      lists("warm"), lists("pass"),
      one("kernels").split(',').toSeq.filter(_.nonEmpty), one("kernel_lead"),
      one("kernel_pairs").toInt, one("warehouse"))
  }

  // ------------------------------------------------------------ output --

  private var out: PrintWriter = _

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** One JSON record; values are numbers, booleans, strings or nested
    * already-rendered JSON (`Raw`). */
  final case class Raw(json: String)
  private def emit(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map { case (k, v) =>
      val j = v match {
        case s: String => q(s)
        case Raw(r) => r
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case x => x.toString
      }
      q(k) + ":" + j
    }
    out.println(body.mkString("{", ",", "}"))
    out.flush()
  }

  private def arr(xs: Iterable[Double]): Raw = Raw(xs.mkString("[", ",", "]"))

  // --------------------------------------------------------- JVM state --

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** CPU-seconds so far of the live threads, summed per thread-name group
    * (the name without its trailing number), from /proc/self/task; empty
    * where /proc is missing. */
  private def threadCpu(): Map[String, Double] =
    try {
      val tasks = Option(new java.io.File("/proc/self/task").listFiles())
        .getOrElse(Array.empty[java.io.File])
      tasks.toSeq.flatMap { t =>
        def read(f: String) = {
          val src = scala.io.Source.fromFile(new java.io.File(t, f))
          try src.mkString.trim finally src.close()
        }
        try {
          val stat = read("stat")
          val rest = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          // utime + stime, in clock ticks of 10 ms
          Some(read("comm").replaceAll("#?\\d+$", "") ->
            (rest(11).toLong + rest(12).toLong) / 100.0)
        } catch { case _: Exception => None }
      }.groupMapReduce(_._1)(_._2)(_ + _)
    } catch { case _: Exception => Map.empty }

  private def jitMs(): Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime else 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Highest heap occupancy seen right after a collection, from the GC
    * notifications every collector publishes; reset per pass. */
  private object HeapAfterGc {
    @volatile var peak: Long = 0L
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP)
                .map(_.getName).toSet
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
              synchronized { if (used > peak) peak = used }
            }
          }, null, null)
        case _ => ()
      }
    def reset(): Unit = synchronized { peak = 0L }
  }

  private def codegen(): (Long, Double, Double) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    (t.getCount, t.getSnapshot.getMean, s.getSnapshot.getMean)
  }

  // --------------------------------------------------------- listeners --

  /** Raw events, buffered lock-free and attributed to passes by time
    * after the bus has drained. */
  final case class Job(id: Int, start: Long, end: Long)
  final case class Task(finish: Long, run: Long, cpuNs: Long, gc: Long,
      peak: Long, shW: Long, shR: Long, fetchWait: Long, spillD: Long,
      spillM: Long, inB: Long, inRows: Long)
  final case class Phases(at: Long, analysis: Long, optimizer: Long, physical: Long)
  final case class Batch(at: Long, trigger: Long, addBatch: Long, planning: Long,
      wal: Long, latestOffset: Long, rows: Long, stateRows: Long,
      stateMem: Long, stateCommit: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile private var lastEventNs = System.nanoTime()
  private def touch(): Unit = lastEventNs = System.nanoTime()

  private object SchedListener extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L)); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val r = m.shuffleReadMetrics
        val w = m.shuffleWriteMetrics
        tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
          w.bytesWritten, r.totalBytesRead, r.fetchWaitTime,
          m.diskBytesSpilled, m.memoryBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
      touch()
    }
  }

  private object PlanListener extends org.apache.spark.sql.util.QueryExecutionListener {
    private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").map(_.endTimeMs)
        .orElse(ph.values.map(_.endTimeMs).reduceOption(_ max _))
        .getOrElse(System.currentTimeMillis())
      phases.add(Phases(at, d("analysis"), d("optimization"), d("planning")))
      touch()
    }
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = record(qe)
  }

  private object StreamListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = touch()
    override def onQueryIdle(e: QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val st = p.stateOperators
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("queryPlanning"),
        d("walCommit"), d("latestOffset"), p.numInputRows,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum))
      touch()
    }
  }

  private def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(SchedListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  private def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(SchedListener)
    spark.listenerManager.unregister(PlanListener)
    spark.streams.removeListener(StreamListener)
  }

  /** Wait until every started job has ended and no event arrived for
    * 250 ms (at most 5 s), so a pass's events are all buffered before
    * they are attributed. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def open = jobs.values.asScala.exists(_.end < 0)
    while (System.nanoTime() < deadline &&
           (open || System.nanoTime() - lastEventNs < 250000000L))
      Thread.sleep(25)
  }

  // -------------------------------------------------------- operations --

  private var spark: SparkSession = _
  private var plan: Plan = _

  def newSession(p: Plan): SparkSession = {
    // Bench.scala's session config, at local[N] with N shuffle partitions
    val s = graft.sources.Scratch.tuneLocalFs(SparkSession.builder())
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", p.warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The Bench sink, made exact: row count and the DECIMAL sum of
    * `xxhash64(all columns)`, so partition order cannot move it. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Build one operation's result, force it through the sink and record
    * it; returns the wall. */
  private def runOp(pass: Int, phase: String, name: String)(build: => DataFrame): Double = {
    val c0 = cpuS()
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val (fp, err) =
      try {
        val df = build
        t1 = System.nanoTime()
        (fingerprint(df), "")
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          ("", (e.getClass.getName + ": " + e.getMessage).take(300))
      }
    val t2 = System.nanoTime()
    emit("op", "pass" -> pass, "phase" -> phase, "name" -> name,
      "wall" -> (t2 - t0) / 1e9, "build" -> (t1 - t0) / 1e9,
      "force" -> (t2 - t1) / 1e9, "cpu" -> (cpuS() - c0),
      "t0" -> e0, "t1" -> System.currentTimeMillis(), "fp" -> fp, "error" -> err)
    (t2 - t0) / 1e9
  }

  private def runQuery(pass: Int, phase: String, name: String): Unit =
    runOp(pass, phase, name)(SparkEntry.queries(name)(spark, plan.sf))

  /** One timed pass: it starts from the session-start memo key set with
    * the cache cleared, then runs `ops` in order. */
  private def timedPass(pass: Int, ops: Seq[String], traced: Boolean,
                        memo0: Set[String]): Unit = {
    Caching.memoDropNewerThan(memo0)
    spark.catalog.clearCache()
    System.gc() // every pass starts from a collected heap
    Caching.memoWindowReset()
    if (traced) attach(spark)
    HeapAfterGc.reset()
    val (jit0, gc0, (cg0, _, _)) = (jitMs(), gcMs(), codegen())
    val (c0, th0) = (cpuS(), threadCpu())
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    ops.foreach(runQuery(pass, "timed", _))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuS() - c0
    val th = threadCpu().map { case (k, v) => k -> (v - th0.getOrElse(k, 0.0)) }
      .filter(_._2 > 0.05)
    // JIT compiler and GC threads never exit (the JVM runs with a fixed
    // set of compiler threads), so their deltas are whole
    val jitCpu = th.collect { case (k, v) if k.contains("CompilerThre") => v }.sum
    val gcCpu = th.collect {
      case (k, v) if k.startsWith("GC Thread") || k.startsWith("G1 ") => v
    }.sum
    val e1 = System.currentTimeMillis()
    val (cg1, cgMean, srcMean) = codegen()
    val builds = (Caching.memoKeys() -- memo0).size
    emit("pass", "pass" -> pass, "traced" -> traced, "n_ops" -> ops.size,
      "wall" -> wall, "cpu" -> cpu, "jit_cpu" -> jitCpu, "gc_cpu" -> gcCpu,
      "thread_cpu" -> Raw(th.toSeq.sortBy(-_._2)
        .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")),
      "t0" -> e0, "t1" -> e1,
      "memo_builds" -> builds, "memo_hits" -> Caching.memoWindowHits,
      "memo_build_s" -> Caching.memoWindowBuildS,
      "jit_ms" -> (jitMs() - jit0), "gc_ms" -> (gcMs() - gc0),
      "code_cache_mb" -> codeCacheMb(),
      "heap_peak_mb" -> HeapAfterGc.peak / 1048576.0,
      "codegen_compiles" -> (cg1 - cg0),
      "codegen_compile_ms" -> (cg1 - cg0) * cgMean,
      "codegen_source_kb" -> (cg1 - cg0) * srcMean / 1024.0)
    if (traced) {
      drain()
      detach(spark)
      flushEvents(pass, e0, e1)
    }
  }

  /** Attribute the buffered listener events inside [t0, t1] to `pass`
    * and clear the buffers. Jobs are written raw (their interval union is
    * computed by run.py); everything else is summed. */
  private def flushEvents(pass: Int, t0: Long, t1: Long): Unit = {
    def in(t: Long) = t >= t0 && t <= t1
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    emit("jobs", "pass" -> pass,
      "start" -> Raw(js.map(_.start).mkString("[", ",", "]")),
      "end" -> Raw(js.map(_.end).mkString("[", ",", "]")))
    val ts = tasks.asScala.filter(t => in(t.finish)).toSeq
    def s(f: Task => Long): Long = ts.map(f).sum
    emit("tasks", "pass" -> pass, "n" -> ts.size,
      "stages" -> stages.asScala.count(in), "outside" -> (tasks.size - ts.size),
      "run_s" -> s(_.run) / 1e3, "cpu_s" -> s(_.cpuNs) / 1e9,
      "gc_s" -> s(_.gc) / 1e3,
      "peak_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peak).max / 1048576.0),
      "shuffle_write_mb" -> s(_.shW) / 1048576.0,
      "shuffle_read_mb" -> s(_.shR) / 1048576.0,
      "fetch_wait_s" -> s(_.fetchWait) / 1e3,
      "spill_disk_mb" -> s(_.spillD) / 1048576.0,
      "spill_mem_mb" -> s(_.spillM) / 1048576.0,
      "input_mb" -> s(_.inB) / 1048576.0, "input_rows" -> s(_.inRows))
    val ps = phases.asScala.filter(p => in(p.at)).toSeq
    emit("planning", "pass" -> pass, "actions" -> ps.size,
      "analysis_ms" -> ps.map(_.analysis).sum.toDouble,
      "optimizer_ms" -> ps.map(_.optimizer).sum.toDouble,
      "physical_ms" -> ps.map(_.physical).sum.toDouble)
    val bs = batches.asScala.filter(b => in(b.at)).toSeq
    emit("stream", "pass" -> pass, "batches" -> bs.size,
      "trigger_ms" -> arr(bs.map(_.trigger.toDouble)),
      "add_batch_ms" -> bs.map(_.addBatch).sum.toDouble,
      "query_planning_ms" -> bs.map(_.planning).sum.toDouble,
      "wal_commit_ms" -> bs.map(_.wal).sum.toDouble,
      "latest_offset_ms" -> bs.map(_.latestOffset).sum.toDouble,
      "input_rows" -> bs.map(_.rows).sum,
      "state_rows" -> bs.map(_.stateRows).sum,
      "state_mem_mb" -> bs.map(_.stateMem).sum / 1048576.0,
      "state_commit_ms" -> bs.map(_.stateCommit).sum.toDouble)
    jobs.clear(); stages.clear(); tasks.clear(); phases.clear(); batches.clear()
  }

  /** The PairPlan arms of the big kernels, forced. Each arm first runs
    * once untimed, so codegen, the JIT and the one-time scratch write of
    * the replicated query side land outside the timed runs; then
    * `kernelPairs` interleaved pairs are timed. The leading arm alternates
    * from pair to pair, starting with the one the seed picks, so with an
    * even number of pairs each arm leads equally often. Every run is
    * fingerprinted and checked like an operation. */
  private def kernelArms(): Unit = plan.kernels.foreach { k =>
    val fn = graft.queries.MatrixQueries.modalKernelsBig(k)
    def arm(name: String, phase: String, pair: Int): Double = {
      val m = if (name == "blocked") PairPlan.Blocked else PairPlan.Broadcast
      runOp(pair, phase, s"pairplan.$k.$name")(fn(spark, plan.sf, m))
    }
    val first = plan.kernelLead
    val second = if (first == "blocked") "broadcast" else "blocked"
    Seq(first, second).foreach(arm(_, "kernel_warm", -1))
    spark.catalog.clearCache()
    (0 until plan.kernelPairs).foreach { i =>
      val order = if (i % 2 == 0) Seq(first, second) else Seq(second, first)
      val walls = order.map(a => a -> arm(a, "kernel", i)).toMap
      emit("kernel", "kernel" -> k, "pair" -> i, "lead" -> order.head,
        "blocked_s" -> walls("blocked"), "broadcast_s" -> walls("broadcast"))
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    plan = readPlan(args(0))
    out = new PrintWriter(args(1), "UTF-8")
    val rt = ManagementFactory.getRuntimeMXBean
    HeapAfterGc.install()
    try {
      emit("context", "java" -> System.getProperty("java.runtime.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "spark" -> org.apache.spark.SPARK_VERSION)
      // set-up, repeated: a fresh session and every fixture table loaded
      // (schema and file listing; the rows are read by the operations).
      // Rep 0 is the JVM's first session (class loading); stopping the
      // previous session is not timed. Then untimed warm-up passes over
      // the workload.
      (0 until plan.setupReps).foreach { i =>
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = System.nanoTime()
        spark = newSession(plan)
        val t1 = System.nanoTime()
        val files = Tables.all.map(t => Tables.load(spark, plan.sf, t).inputFiles.length)
        val t2 = System.nanoTime()
        emit("setup", "rep" -> i, "s" -> (t2 - t0) / 1e9,
          "session_s" -> (t1 - t0) / 1e9, "fixtures_s" -> (t2 - t1) / 1e9,
          "fixture_files" -> files.sum,
          "local" -> spark.sparkContext.master,
          "parallelism" -> spark.sparkContext.defaultParallelism,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
      }
      val memo0 = Caching.memoKeys()
      plan.warm.zipWithIndex.foreach { case (ops, i) =>
        val t0 = System.nanoTime()
        ops.foreach(runQuery(-1 - i, "warm", _))
        emit("warm", "pass" -> (-1 - i), "s" -> (System.nanoTime() - t0) / 1e9)
      }
      emit("ready", "since_jvm_start_s" ->
        (System.currentTimeMillis() - rt.getStartTime) / 1e3)
      if (plan.trace && plan.kernels.nonEmpty) kernelArms()
      val emb = Tables.embeddings(spark, plan.sf).count()
      emit("shape", "embeddings" -> emb)
      // timed passes until the budget is spent, never fewer than
      // min_passes; a traced run makes min_passes of each kind, in blocks
      // of untraced, traced, traced, untraced, so a steady drift (the JIT
      // still warming up) cancels in trace_overhead
      val t0 = System.nanoTime()
      var i = 0
      def spent = (System.nanoTime() - t0) / 1e9
      def traced(i: Int) = plan.trace && (i % 4 == 1 || i % 4 == 2)
      def more = i < plan.minPasses * (if (plan.trace) 2 else 1) ||
        spent < plan.seconds || (plan.trace && i % 4 != 0)
      while (i < plan.passes.size && more) {
        timedPass(i, plan.passes(i), traced(i), memo0)
        i += 1
      }
      emit("done", "passes" -> i, "measure_s" -> spent)
    } catch {
      case e: Throwable =>
        emit("fatal", "error" -> (e.getClass.getName + ": " + e.getMessage).take(500))
        throw e
    } finally {
      out.close()
      if (spark != null) spark.stop()
    }
  }
}

/** Fingerprints of result dumps: `Fingerprint DIR NAME...` reads each
  * `DIR/NAME` parquet directory (as `graft.Verify` writes them) and prints
  * `NAME FINGERPRINT` with [[Harness.fingerprint]], so a dump the DuckDB
  * oracle passed can be matched against `fingerprints.json`. */
object Fingerprint {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.drop(1).foreach { name =>
      println(s"$name ${Harness.fingerprint(spark.read.parquet(s"${args(0)}/$name"))}")
    } finally spark.stop()
  }
}
