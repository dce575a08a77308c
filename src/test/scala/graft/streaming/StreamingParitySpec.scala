package graft.streaming

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.StreamQueries

/** top-level so Spark can synthesize an Encoder (inner classes can't). */
case class SpecEv(event_id: Long, ts: Timestamp, user_id: Long,
                  event_type: String, value: Double)

/** The monoid aggregates are incrementally maintainable by construction
  * (the reference's associativity contract, core.py:15-64) — these tests
  * PROVE it: the same windowed aggregate produces identical results run as
  * a batch plan and as a Structured Streaming query over the same rows, and
  * the flatMapGroupsWithState sessionizer agrees with its batch
  * window-function dual. */
class StreamingParitySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(99)
  private val base = 1700000000L // fixed epoch anchor
  private val events: Seq[SpecEv] = (0 until 2000).map { i =>
    SpecEv(i.toLong,
      new Timestamp((base + rnd.nextInt(6 * 3600)) * 1000L),
      rnd.nextInt(20).toLong,
      s"type${rnd.nextInt(4)}",
      rnd.nextGaussian() * 5)
  }

  test("windowed count/sum/logsumexp: streaming == batch") {
    val batch = StreamingOps.windowedAgg(events.toDF())
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SpecEv]
    // three micro-batches: the partial aggregates must merge across batches
    events.grouped(700).foreach(g => mem.addData(g: _*))
    val q = StreamingOps.windowedAgg(mem.toDF().withWatermark("ts", "10 hours"))
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_agg")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(streamed.keySet == batch.keySet)
    for ((k, (n, total, lse)) <- batch) {
      val (sn, st, sl) = streamed(k)
      assert(sn == n, s"$k n")
      assert(math.abs(st - total) <= 1e-6, s"$k total")
      assert(math.abs(sl - lse) <= 1e-9, s"$k lse")
    }
  }

  test("flatMapGroupsWithState sessionizer == batch lag/cumsum dual") {
    // compare on the session's stable identity (user, start, end, n) —
    // streaming session_id is start_s (survives state expiry), batch's is
    // the per-user ordinal = rank(start_s); contents must agree exactly
    val batch = StreamQueries.sessionsBatch(events.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    mem.addData(events.map(e =>
      SessEvent(e.user_id, e.event_id, e.ts.getTime / 1000L)): _*)
    val q = Sessionize.sessions(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch)
    // in-order arrival: first-seen identity == min-folded start
    assert(spark.table("sessions")
      .filter(col("session_id") =!= col("start_s")).count() == 0)
  }

  test("late above-watermark event extends the session without changing its id") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val t0 = base
    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessions(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("sessions_lateid")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 opens user 9's session at t0+1000
      mem.addData(SessEvent(9, 1, t0 + 1000), SessEvent(9, 2, t0 + 1060))
      q.processAllAvailable()
      // batch 2 delivers a LATE (still above watermark) event at t0+900:
      // start_s min-folds backward, the identity must NOT move (ADVICE r3 —
      // an Update-mode sink upserting on (user_id, session_id) would keep a
      // phantom row under the old id forever)
      mem.addData(SessEvent(9, 3, t0 + 900))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("sessions_lateid").filter(col("user_id") === 9)
      .select(col("session_id"), col("n_events"), col("start_s"), col("end_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every emission carries the SAME id (the first-seen start) ...
    assert(rows.map(_._1).toSet == Set(t0 + 1000))
    // ... and the latest emission folded the late event into the extent
    assert(rows.toSet.contains((t0 + 1000, 3L, t0 + 900, t0 + 1060)))
  }

  test("bounded top-k monoid is incrementally maintainable: streaming == batch") {
    // the monoid contract for Catalyst's bounded collect_top_k: the same
    // top-k aggregate over the same rows, as a batch plan and as a
    // streaming query whose state store must merge partial top-k buffers
    // (serialized bounded queues) across micro-batches
    import graft.functions.GraftAggs
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"))
        .agg(GraftAggs.topK(3)(col("value"), col("event_id")).as("top"))
    val batch = agg(events.toDF()).collect()
      .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SpecEv]
    events.grouped(700).foreach(g => mem.addData(g: _*))
    val q = agg(mem.toDF().withWatermark("ts", "10 hours"))
      .writeStream.format("memory").queryName("topk_agg")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("topk_agg").collect()
      .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(streamed == batch)
  }

  test("checkpoint restart: kill after run 1, resume run 2, result == batch") {
    // The property a user actually relies on a checkpoint for (VERDICT r4
    // "What's missing" #4): a query that dies mid-stream is restarted with
    // the SAME checkpoint and sink, and the combined output is exactly the
    // batch answer — already-processed files are not re-read (no double
    // counting) and the state store's partial aggregates are recovered (no
    // under-counting on windows spanning the outage).
    val staging = java.nio.file.Files.createTempDirectory("graft_restart_src")
    val out = java.nio.file.Files.createTempDirectory("graft_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt").toString
    // split by row parity so EVERY window has events on both sides of the
    // outage — each final aggregate must merge recovered state with run-2
    // partials, making state recovery load-bearing, not incidental
    val (half1, half2) = events.zipWithIndex.partition(_._2 % 2 == 0)
    half1.map(_._1).toDF().coalesce(1)
      .write.parquet(s"$staging/batch_a")
    val schema = spark.read.parquet(s"$staging/batch_a").schema
    def source = spark.readStream.schema(schema)
      .option("basePath", staging.toString)
      .parquet(s"$staging/batch_*")

    // run 1: processes batch_a, then "dies" (AvailableNow terminates)
    val q1 = StreamingOps.startWindowedAggStream(
      source, out, ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q1.awaitTermination() finally q1.stop()
    val afterRun1 = spark.read.parquet(out)
    assert(afterRun1.count() > 0, "run 1 sank nothing")
    val run1MaxBatch = afterRun1.agg(max(col("batch_id"))).head().getLong(0)

    // outage: more data lands; run 2 resumes from the SAME checkpoint
    half2.map(_._1).toDF().coalesce(1)
      .write.parquet(s"$staging/batch_b")
    val q2 = StreamingOps.startWindowedAggStream(
      source, out, ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q2.awaitTermination() finally q2.stop()

    // resumed batch ids continue past run 1's (offset log recovered, files
    // from run 1 not re-read — a restart that reprocessed batch_a would
    // also double every n below)
    assert(spark.read.parquet(out).agg(max(col("batch_id"))).head().getLong(0)
      > run1MaxBatch)
    val streamed = StreamingOps.readWindowedSink(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val batch = StreamingOps.windowedAgg(events.toDF())
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(streamed.keySet == batch.keySet)
    for ((k, (n, total, lse)) <- batch) {
      val (sn, st, sl) = streamed(k)
      assert(sn == n, s"$k n (under/over-count across restart)")
      assert(math.abs(st - total) <= 1e-6, s"$k total")
      assert(math.abs(sl - lse) <= 1e-9, s"$k lse")
    }
  }

  test("event-time timeout closes sessions finally; a returning user starts fresh") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val t0 = base
    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessions(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("sessions_timeout")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: user 1's whole first session
      mem.addData(SessEvent(1, 1, t0), SessEvent(1, 2, t0 + 60), SessEvent(1, 3, t0 + 120))
      q.processAllAvailable()
      // batch 2: user 2 far in the future advances the watermark past
      // user 1's last event + gap -> user 1's state must time out
      mem.addData(SessEvent(2, 4, t0 + 20000))
      q.processAllAvailable()
      // batch 3: another event so the post-watermark batch definitely runs
      mem.addData(SessEvent(2, 5, t0 + 20060))
      q.processAllAvailable()
      // batch 4: user 1 returns after the timeout -> a NEW session whose
      // identity (start_s) does not collide with the expired one
      mem.addData(SessEvent(1, 6, t0 + 30000))
      q.processAllAvailable()
    } finally q.stop()

    val user1 = spark.table("sessions_timeout")
      .filter(col("user_id") === 1)
      .select(col("session_id"), col("n_events"), col("start_s"), col("end_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // first session: provisional and timeout-final emissions are the SAME
    // tuple (set-collapsed); second session: fresh state after expiry
    assert(user1 == Set(
      (t0, 3L, t0, t0 + 120),
      (t0 + 30000, 1L, t0 + 30000, t0 + 30000)))
  }

  test("sessionizer restart: recovered flatMapGroupsWithState resumes sessions across the outage") {
    // the hardest checkpoint property: arbitrary per-group state. Events
    // split at the median EVENT TIME (the realistic outage: files land
    // roughly in time order, so run-2 data is above run-1's watermark —
    // a row split would instead deliver half the stream below the
    // watermark, where timeout-finalized sessions legitimately reopen and
    // batch equality CANNOT hold for any streaming sessionizer). Every
    // session open at the cut must resume from RECOVERED state: keep its
    // first-seen identity and fold run-2 events into the recovered extent.
    // Combined upsert sink == batch dual exactly (lost state under-counts
    // n_events; a reset identity splits boundary sessions in two).
    val staging = java.nio.file.Files.createTempDirectory("graft_sessres_src")
    val out = java.nio.file.Files.createTempDirectory("graft_sessres_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sessres_ckpt").toString
    val cutMs = events.map(_.ts.getTime).sorted.apply(events.size / 2)
    val (half1, half2) = events.partition(_.ts.getTime < cutMs)
    // sanity: sessions actually SPAN the outage — some user's last run-1
    // event and first run-2 event fall within one session gap, so the
    // resumed query must merge across the cut (else recovery isn't
    // load-bearing and the test silently weakens if the fixture changes)
    val spanning = events.map(_.user_id).distinct.count { u =>
      val before = half1.filter(_.user_id == u).map(_.ts.getTime)
      val after = half2.filter(_.user_id == u).map(_.ts.getTime)
      before.nonEmpty && after.nonEmpty &&
        after.min - before.max <= Sessionize.GapSec * 1000L
    }
    assert(spanning > 0, "no session spans the outage — recovery untested")
    half1.toDF().coalesce(1).write.parquet(s"$staging/wave_a")
    val schema = spark.read.parquet(s"$staging/wave_a").schema
    def source = spark.readStream.schema(schema)
      .option("basePath", staging.toString)
      .parquet(s"$staging/wave_*")
    val trig = org.apache.spark.sql.streaming.Trigger.AvailableNow()

    val q1 = StreamingOps.startSessionStream(spark, source, out, ckpt, trig)
    try q1.awaitTermination() finally q1.stop()
    assert(spark.read.parquet(out).count() > 0, "run 1 sank nothing")

    half2.toDF().coalesce(1).write.parquet(s"$staging/wave_b")
    val q2 = StreamingOps.startSessionStream(spark, source, out, ckpt, trig)
    try q2.awaitTermination() finally q2.stop()

    def tup5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = tup5(StreamingOps.readSessionSink(spark, out))
    val batch = tup5(StreamQueries.sessionsBatch(events.toDF()))
    assert(streamed == batch,
      s"restart sessions diverge: ${(streamed -- batch).take(3)} extra, " +
        s"${(batch -- streamed).take(3)} missing")
  }

  test("funnel restart: recovered greedy latch across the outage == batch min-window chain") {
    // the funnel state machine's checkpoint property: a user mid-funnel at
    // the cut (viewed in run 1, clicks/purchases in run 2) must resume from
    // RECOVERED latched times — lost state forgets t1 and the run-2 click
    // can never latch t2. Split at the median EVENT TIME (files land
    // roughly in time order — the greedy latch's documented source
    // contract; see FunnelStream).
    val steps = Seq("view", "click", "purchase")
    val frnd = new Random(7)
    // purchases rare and clicks uncommon, so many users sit mid-funnel at
    // the median-time cut and their run-2 latch depends on recovered state
    val funnelEvents = (0 until 900).map { i =>
      val r = frnd.nextInt(20)
      val ty = if (r < 8) "view" else if (r < 12) "click"
        else if (r == 12) "purchase" else "scroll" // noise: filtered pre-state
      SpecEv(i.toLong,
        new Timestamp((base + frnd.nextInt(6 * 3600)) * 1000L),
        frnd.nextInt(60).toLong, ty, 0.0)
    }
    val staging = java.nio.file.Files.createTempDirectory("graft_funres_src")
    val out = java.nio.file.Files.createTempDirectory("graft_funres_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_funres_ckpt").toString
    val cutMs = funnelEvents.map(_.ts.getTime).sorted.apply(funnelEvents.size / 2)
    val (half1, half2) = funnelEvents.partition(_.ts.getTime < cutMs)
    // sanity: some user is genuinely mid-funnel at the cut (stage strictly
    // increases when run-2 events arrive), so a run-2 latch depends on the
    // RECOVERED run-1 state and recovery is load-bearing
    def greedyStage(evs: Seq[SpecEv]): Map[Long, Int] =
      evs.sortBy(e => (e.ts.getTime, e.event_id)).groupBy(_.user_id).map {
        case (u, es) =>
          val ts = Array.fill(steps.length)(-1L)
          for (e <- es; k <- steps.indices)
            if (ts(k) < 0L && e.event_type == steps(k) &&
              (k == 0 || (ts(k - 1) >= 0L && e.ts.getTime / 1000L > ts(k - 1))))
              ts(k) = e.ts.getTime / 1000L
          u -> ts.count(_ >= 0L)
      }
    val s1 = greedyStage(half1)
    val sAll = greedyStage(funnelEvents)
    val spanning = sAll.count { case (u, s) =>
      val p = s1.getOrElse(u, 0); p >= 1 && s > p
    }
    assert(spanning > 0, "no user is mid-funnel at the cut — recovery untested")
    half1.toDF().coalesce(1).write.parquet(s"$staging/wave_a")
    val schema = spark.read.parquet(s"$staging/wave_a").schema
    def source = spark.readStream.schema(schema)
      .option("basePath", staging.toString)
      .parquet(s"$staging/wave_*")
    val trig = org.apache.spark.sql.streaming.Trigger.AvailableNow()

    val q1 = StreamingOps.startFunnelStream(spark, source, steps, out, ckpt, trig)
    try q1.awaitTermination() finally q1.stop()
    assert(spark.read.parquet(out).count() > 0, "run 1 sank nothing")

    half2.toDF().coalesce(1).write.parquet(s"$staging/wave_b")
    val q2 = StreamingOps.startFunnelStream(spark, source, steps, out, ckpt, trig)
    try q2.awaitTermination() finally q2.stop()

    def tup5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = tup5(StreamingOps.readFunnelSink(spark, out, steps.length))
    val batch = tup5(graft.operators.Funnel.funnel(funnelEvents.toDF(), steps))
    assert(streamed == batch,
      s"restart funnel diverges: ${(streamed -- batch).take(3)} extra, " +
        s"${(batch -- streamed).take(3)} missing")
  }

  test("ingest dedup restart: resumed batches extend the sink, never re-count") {
    // restart proof for the SECOND streaming edge family (additive-count
    // sink with per-batch-id overwrite paths, vs the windowed edge's
    // latest-per-key upsert): half the landing files arrive, the query
    // runs to completion ("dies"), more files land, a second query resumes
    // from the SAME checkpoint — combined per-lang sums must equal the
    // one-shot batch result. A restart that re-read run-1 files would
    // inflate n_new; one that lost the offset log would skip run-2 files.
    val dir = "/root/testdata/sf0.001"
    val staging = java.nio.file.Files.createTempDirectory("graft_ingres_src")
    val out = java.nio.file.Files.createTempDirectory("graft_ingres_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingres_ckpt").toString
    val docs = graft.sources.Tables.documents(spark, dir)
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val index = graft.operators.Dedup.minhashRepIndex(existing).cache()

    newDocs.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$staging/wave_a")
    val schema = spark.read.parquet(s"$staging/wave_a").schema
    def source = spark.readStream.schema(schema)
      .option("basePath", staging.toString)
      .parquet(s"$staging/wave_*")
    val trig = org.apache.spark.sql.streaming.Trigger.AvailableNow()

    val q1 = StreamingOps.startIngestStream(source, index, out, ckpt, trig)
    try q1.awaitTermination() finally q1.stop()
    val run1N = StreamingOps.readIngestSink(spark, out)
      .agg(sum(col("n_new"))).head().getLong(0)
    assert(run1N > 0, "run 1 admitted nothing")

    newDocs.filter(col("doc_id") % 4 === 3).coalesce(1)
      .write.parquet(s"$staging/wave_b")
    val q2 = StreamingOps.startIngestStream(source, index, out, ckpt, trig)
    try q2.awaitTermination() finally q2.stop()

    val streamed = StreamingOps.readIngestSink(spark, out)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val oneShot = graft.operators.Dedup.incrementalDedup(newDocs, existing)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed == oneShot,
      s"restart-combined counts diverge: $streamed vs $oneShot")
  }

  test("ewmaFoldBatch: replayed batches are no-ops; union equals one-shot") {
    import spark.implicits._
    val statePath = graft.sources.Scratch.dir("graft_ewma_spec_state") + "/state"
    val out = graft.sources.Scratch.dir("graft_ewma_spec_out")
    def ev(hour: Int, n: Int, t: String) = (0 until n).map(i =>
      (s"$t", new Timestamp((1700000000L + hour * 3600L + i) * 1000L)))
    // batch 0: hours 0-2; batch 1: hours 4-5 (hour 3 is an inter-batch gap)
    val b0 = (ev(0, 3, "a") ++ ev(1, 1, "a") ++ ev(2, 2, "b"))
      .toDF("event_type", "ts")
    val b1 = (ev(4, 2, "a") ++ ev(5, 1, "b")).toDF("event_type", "ts")
    StreamingOps.ewmaFoldBatch(b0, 0L, statePath, out)
    StreamingOps.ewmaFoldBatch(b0, 0L, statePath, out) // replayed: must skip
    StreamingOps.ewmaFoldBatch(b1, 1L, statePath, out)
    StreamingOps.ewmaFoldBatch(b1, 1L, statePath, out) // replayed: must skip
    val got = spark.read.parquet(out)
      .select(col("event_type"), col("hr"), col("n"), col("ewma_milli"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val exp = graft.operators.Resample.hourlyEwma(b0.union(b1)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == exp, s"streamed union diverges from one-shot")
    assert(got.size == 12) // 2 types x 6 calendar hours, gap hours included
  }

  test("cusumFoldBatch: three-scalar state resumes the closed form " +
       "bit-exactly across a gap; replays are no-ops") {
    import spark.implicits._
    val statePath = graft.sources.Scratch.dir("graft_cusum_spec_state") + "/state"
    val out = graft.sources.Scratch.dir("graft_cusum_spec_out")
    def ev(hour: Int, n: Int, t: String) = (0 until n).map(i =>
      (t, new Timestamp((1700000000L + hour * 3600L + i) * 1000L)))
    // batch 0 spans the full 24h baseline window (the first-batch-seeds
    // contract); batch 1 resumes after a multi-hour gap with a level shift
    val b0 = (ev(0, 3, "a") ++ ev(1, 1, "a") ++ ev(25, 2, "a") ++
      ev(2, 2, "b")).toDF("event_type", "ts")
    val b1 = (ev(30, 6, "a") ++ ev(31, 1, "b")).toDF("event_type", "ts")
    StreamingOps.cusumFoldBatch(b0, 0L, statePath, out)
    StreamingOps.cusumFoldBatch(b0, 0L, statePath, out) // replayed: skip
    StreamingOps.cusumFoldBatch(b1, 1L, statePath, out)
    StreamingOps.cusumFoldBatch(b1, 1L, statePath, out) // replayed: skip
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val got = spark.read.parquet(out)
      .select(col("event_type"), col("hr"), col("n"), col("mu_milli"),
        col("cusum_milli"), col("alarm")).collect().map(key).toSet
    val exp = graft.operators.Resample.hourlyCusum(b0.union(b1))
      .collect().map(key).toSet
    assert(got == exp, "streamed CUSUM union diverges from one-shot")
    assert(got.size == 64) // 2 types x 32 calendar hours, gaps included
  }

  test("holtFoldBatch: coupled state resumes bit-exactly; replays are no-ops") {
    import spark.implicits._
    val statePath = graft.sources.Scratch.dir("graft_holt_spec_state") + "/state"
    val out = graft.sources.Scratch.dir("graft_holt_spec_out")
    def ev(hour: Int, n: Int, t: String) = (0 until n).map(i =>
      (t, new Timestamp((1700000000L + hour * 3600L + i) * 1000L)))
    // declining series split across batches with a gap hour between them
    val b0 = (ev(0, 3, "a") ++ ev(1, 1, "a")).toDF("event_type", "ts")
    val b1 = ev(3, 2, "a").toDF("event_type", "ts")
    StreamingOps.holtFoldBatch(b0, 0L, statePath, out)
    StreamingOps.holtFoldBatch(b0, 0L, statePath, out) // replayed: skip
    StreamingOps.holtFoldBatch(b1, 1L, statePath, out)
    StreamingOps.holtFoldBatch(b1, 1L, statePath, out) // replayed: skip
    val got = spark.read.parquet(out)
      .select(col("event_type"), col("hr"), col("n"), col("level_milli"),
        col("trend_milli"), col("forecast_milli"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val exp = graft.operators.Resample.hourlyHolt(b0.union(b1)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == exp, "streamed Holt union diverges from one-shot")
    assert(got.size == 4) // hours 0-3 incl. the inter-batch gap hour
  }
}
