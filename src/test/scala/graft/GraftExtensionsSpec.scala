package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectTopK, Final, Partial}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, HashJoin, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftAggs, KmvSketchAgg, MgSketchAgg, TileFold}
import graft.operators.{Assoc, Attention, Entropy, Mlp, PairPlan, Sampler, Triangles, XEntropy}

/** SQL registration of the native functions + physical-plan-shape
  * regression tests (the plan properties the 100 TB design depends on). */
class GraftExtensionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("graft functions are SQL-callable after register()") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .as[Double].head()
    assert(dot == 32.0)

    Seq((0L, 1.0, Array(2.0, 4.0)), (0L, 1.0, Array(6.0, 8.0)))
      .toDF("g", "sc", "v").createOrReplaceTempView("ext_t")
    val lw = spark.sql(
      "SELECT g, graft_log_weighted_vec(sc, v) AS lw FROM ext_t GROUP BY g")
      .select($"lw.v").as[Seq[Double]].head()
    // equal scores -> plain mean (to fp tolerance; logaddexp reweighting)
    assert(lw.zip(Seq(4.0, 6.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })

    val vs = spark.sql(
      "SELECT g, graft_vec_weighted_sum(sc, v) AS s FROM ext_t GROUP BY g")
      .select($"s").as[Seq[Double]].head()
    assert(vs == Seq(8.0, 12.0))

    val lse = spark.sql(
      "SELECT g, graft_logsumexp(sc) AS z FROM ext_t GROUP BY g")
      .select($"z").as[Double].head()
    assert(math.abs(lse - (1.0 + math.log(2.0))) < 1e-12)

    // the dedup/ANN kernels, SQL-callable too
    val mh = spark.sql(
      "SELECT graft_minhash(array('a', 'b', 'c', 'd')) AS s").as[Seq[Long]].head()
    assert(mh.length == 16 && mh.forall(_ >= 0))
    val sh = spark.sql(
      "SELECT graft_simhash(array('a', 'b', 'c')) AS s").as[Long].head()
    assert(sh >= 0 && sh < (1L << 32))
    val ham = spark.sql(
      """SELECT graft_hamming(graft_sign_sketch(array(1.0d, -1.0d)),
        |                     graft_sign_sketch(array(1.0d, -1.0d))) AS h""".stripMargin)
      .as[Long].head()
    assert(ham == 0L)

    // the round-7 additions: f32 dot, n-gram hashes, integer pair mixer
    val df32 = spark.sql(
      """SELECT graft_dot_f32(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                     array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d""".stripMargin)
      .as[Float].head()
    assert(df32 == 4.0f)
    val ng = spark.sql(
      "SELECT graft_ngram_hashes(array('a', 'b', 'c', 'd'), 3) AS h")
      .as[Seq[Long]].head()
    assert(ng.length == 2 && ng.forall(_ >= 0))
    val mx = spark.sql("SELECT graft_mix60(7L, 1L, 2L) AS m").as[Long].head()
    assert(mx == graft.functions.Mix60Kernel.mix60(7L, 1L, 2L))
  }

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("attention broadcast plan shape: broadcast join, no kv-side shuffle before the partial agg") {
    val emb = (0 until 64).map(i => (i.toLong, Array.fill(8)(i * 0.1)))
      .toDF("id", "vec")
    val q = emb.select(col("id").as("q_id"), col("vec").as("qvec"))
    val kv = emb.select(col("id").as("k_id"), col("vec").as("kvec"),
      col("vec").as("vvec"))
    val plan = physicalPlan(Attention.attention(q, kv))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), "broadcast plan must not be a cartesian")
  }

  test("attention blocked plan shape: tile-keyed ShuffledHashJoin (2-D tile grid)") {
    val emb = (0 until 64).map(i => (i.toLong, Array.fill(8)(i * 0.1)))
      .toDF("id", "vec")
    val q = emb.select(col("id").as("q_id"), col("vec").as("qvec"))
    val kv = emb.select(col("id").as("k_id"), col("vec").as("kvec"),
      col("vec").as("vvec"))
    // since r13 the tile grid is a SHUFFLE_HASH equi-join on the tile key
    // (codegen-friendly, unlike CartesianProductExec — VERDICT r12 #4);
    // it must never silently degrade to a broadcast join
    val plan = physicalPlan(Attention.attention(q, kv, mode = PairPlan.Blocked))
    assert(plan.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin tile grid in:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"blocked plan must not broadcast:\n$plan")
  }

  /** The tile-fold kernels over a KV side of `kvParts` range partitions
    * (no exchange of its own), executed under `mode`; the final plans. */
  private def tileFoldPlans(mode: PairPlan.Mode, kvParts: Int,
      kernels: Seq[String] = Seq("attention", "mlp")): Seq[SparkPlan] = {
    val kv = spark.range(0L, 64L, 1L, kvParts).select(col("id").as("k_id"),
      array_repeat(col("id") * 0.1, 8).as("kvec"),
      array_repeat(col("id") * 0.2, 4).as("vvec"))
    val q = (0 until 16).map(i => (i.toLong, Array.fill(8)(i * 0.1)))
      .toDF("q_id", "qvec")
    val pred = q.select(col("q_id").as("m_id"), col("qvec").as("mvec"),
      (col("q_id") * 3).as("label"))
    val trg = kv.select(col("k_id"), col("kvec"))
    val dfs = kernels.map {
      case "attention" => Attention.attention(q, kv, scale = true, mode)
      case "mlp" => Mlp.mlp(q.select(col("q_id").as("b_id"), col("qvec").as("xvec")),
        kv.select(col("k_id"), col("kvec").as("pvec"), col("vvec").as("qvec")), mode)
      case "entropy" => Entropy.entropy(pred.drop("label"), trg, mode)
      case "xentropy" => XEntropy.xentropy(pred, trg, mode)
      case "sampler" => Sampler.sampler(pred.drop("label"), trg, "spec", mode)
    }
    dfs.map { df => df.collect(); df.queryExecution.executedPlan }
  }

  /** The plan nodes that evaluate a tile fold: exactly one Project each. */
  private def foldSites(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) {
      case n if n.expressions.exists(_.find(_.isInstanceOf[TileFold]).isDefined) => n
    }

  /** The node below `a`, past codegen wrappers (and filters when `filters`). */
  private def feeder(a: SparkPlan, filters: Boolean): SparkPlan = {
    var c = a.children.head
    while (c.isInstanceOf[InputAdapter] || c.isInstanceOf[WholeStageCodegenExec] ||
        (filters && c.isInstanceOf[FilterExec])) c = c.children.head
    c
  }

  private def callsFold(p: SparkPlan): Boolean = p match {
    case p: ProjectExec => p.projectList.exists(_.find(_.isInstanceOf[TileFold]).isDefined)
    case _ => false
  }

  test("attention and mlp plan shape: no Generate, and the only " +
       "ObjectHashAggregate over pairs reads the tile fold's output") {
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked);
         plan <- tileFoldPlans(mode, 1)) {
      // the partial fold merge sits on the projection that calls the fold
      // (the Blocked arm's tile packing, grouped by __tk, is the other
      // ObjectHashAggregate); nothing aggregates raw pair rows
      val merges = collect(plan) {
        case a: ObjectHashAggregateExec
            if !a.groupingExpressions.exists(_.references.exists(_.name == "__tk")) => a
      }
      assert(merges.nonEmpty, s"$mode: no fold merge in\n$plan")
      // no pair stream is generated: the only Generate left is mlp's
      // posexplode of its M×D result, above the merge (a 1×1 tile grid at
      // this size, so the Blocked arm replicates no tile either)
      merges.foreach(m => assert(collect(m) { case g: GenerateExec => g }.isEmpty,
        s"$mode: Generate below the fold merge in\n$plan"))
      merges.filter(_.aggregateExpressions.exists(_.mode == Partial)).foreach { a =>
        assert(callsFold(feeder(a, filters = true)),
          s"$mode: partial merge not fed by the tile fold:\n$plan")
      }
      assert(foldSites(plan).length == 1, s"$mode: the fold runs in " +
        s"${foldSites(plan).map(_.nodeName)}:\n$plan")
    }
  }

  test("entropy, xentropy and sampler plan shape: no Generate below the " +
       "merge, which reads the one Project that calls the tile fold") {
    for (mode <- Seq(PairPlan.Broadcast, PairPlan.Blocked);
         plan <- tileFoldPlans(mode, 1, Seq("entropy", "xentropy", "sampler"))) {
      val merges = collect(plan) {
        case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.references.exists(_.name == "m_id")) => a
      }
      assert(merges.nonEmpty && merges.forall(_.isInstanceOf[HashAggregateExec]),
        s"$mode: merge is not a HashAggregate in\n$plan")
      merges.foreach(m => assert(collect(m) { case g: GenerateExec => g }.isEmpty,
        s"$mode: Generate below the merge in\n$plan"))
      val partials = merges.filter(_.aggregateExpressions.exists(_.mode == Partial))
      assert(partials.nonEmpty && partials.forall(a => callsFold(feeder(a, filters = false))),
        s"$mode: partial merge not fed by the tile fold:\n$plan")
      assert(foldSites(plan).length == 1, s"$mode: the fold runs in " +
        s"${foldSites(plan).map(_.nodeName)}:\n$plan")
    }
  }

  test("attention and mlp broadcast arm: a KV side with >= defaultParallelism " +
       "partitions is chunked in place, with no exchange on the KV side") {
    for (plan <- tileFoldPlans(PairPlan.Broadcast,
        spark.sparkContext.defaultParallelism)) {
      val joins = collect(plan) { case j: BroadcastNestedLoopJoinExec => j }
      assert(joins.length == 1, s"expected one broadcast join in\n$plan")
      val kvSide = joins.head.left
      assert(collect(kvSide) { case e: Exchange => e }.isEmpty,
        s"exchange on the KV side:\n$plan")
    }
  }

  test("sampler plan shape: HashAggregate, never a pair-stream SortAggregate") {
    // the Gumbel-max argmax is a declarative aggregate over primitive
    // buffer slots: a max(struct) buffer dragged the whole aggregation to
    // SortAggregate, sorting the full M×N pair stream in both modes (r13),
    // and an object buffer copies every pair row into ObjectHashAggregate
    val emb = (0 until 64).map(i => (i.toLong, Array.fill(8)(i * 0.1)))
      .toDF("id", "vec")
    val plan = physicalPlan(Sampler.sampler(
      emb.select(col("id").as("m_id"), col("vec").as("mvec")),
      emb.select(col("id").as("k_id"), col("vec").as("kvec")),
      seed = "spec"))
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"),
      s"expected HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"sampler aggregation fell back to SortAggregate:\n$plan")
  }

  test("KMV and MG sketch plan shape: a native ObjectHashAggregate, no " +
       "ScalaAggregator (per-lang kmvSketch, global mgSketch)") {
    // the sketches fold their input rows straight into a mutable buffer:
    // a udaf(Aggregator) would show up as a ScalaAggregator, converting
    // every row through its encoder
    val kmv = Seq(("en", 1L), ("de", 2L), ("en", 3L)).toDF("lang", "h")
      .groupBy(col("lang")).agg(GraftAggs.kmvSketch(4)(col("h")))
    val mg = Seq("a", "b", "a").toDF("token").agg(GraftAggs.mgSketch(4)(col("token")))
    for ((df, fn) <- Seq(kmv -> classOf[KmvSketchAgg], mg -> classOf[MgSketchAgg])) {
      df.collect() // the final adaptive plan
      val plan = df.queryExecution.executedPlan
      val fns = collect(plan) { case a: BaseAggregateExec =>
        a.aggregateExpressions.map(_.aggregateFunction) }.flatten
      assert(collect(plan) { case a: ObjectHashAggregateExec => a }.nonEmpty &&
        fns.nonEmpty && fns.forall(fn.isInstance), s"${fn.getSimpleName} in\n$plan")
      assert(!fns.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), s"ScalaAggregator in\n$plan")
    }
  }

  test("docs_profile plan shape: ONE documents scan feeds all five countDistincts") {
    // the ANALYZE-pass claim: multi-column exact distincts share a single
    // Expand over a single scan — a per-column formulation would re-read
    // the table five times
    val df = graft.SparkEntry.queries("docs_profile")(
      spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(df)
    val scans = "documents\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 documents scan, found $scans in:\n$plan")
    assert(plan.contains("Expand"), "multi-distinct should plan through Expand")
  }

  test("embed_gram plan shape: one embeddings scan into a partial-final hash agg, no join") {
    // the GeMM-fold claim: outer-product terms reduce through ONE
    // map-side-combined aggregation; nothing is joined or re-scanned
    val df = graft.SparkEntry.queries("embed_gram")(
      spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(df)
    val scans = "embeddings\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly 1 embeddings scan, found $scans in:\n$plan")
    assert(plan.contains("HashAggregate"), "terms must reduce through hash aggregation")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      "gram fold must not join")
  }

  test("decontaminate_embed plan shape: eval side broadcasts, train side never sort-merges") {
    // the 100 TB claim: the train corpus is ONE streamed map pass against
    // a broadcast eval set — any SortMergeJoin means the corpus shuffled
    val df = graft.SparkEntry.queries("decontaminate_embed")(
      spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(df)
    assert(plan.contains("BroadcastExchange"), s"expected broadcast eval side in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "train side must not shuffle for the join")
  }

  test("co-membership pair plan shape: a Window feeds a Generate, no " +
       "shuffled join, no ObjectHashAggregate (pairRules, strongEdges)") {
    // the within-group pairs are generated inside one window pass: no
    // self-join of the basket/lineitem side and no collect aggregate
    val li = (0 until 2000).map(i => (i / 4L, (i * 7919L) % 300))
      .toDF("l_orderkey", "l_partkey")
    for (df <- Seq(Assoc.pairRules(li),
        Triangles.strongEdges(li, "l_orderkey", "l_partkey"))) {
      df.collect() // the final adaptive plan
      val plan = df.queryExecution.executedPlan
      val gens = collect(plan) { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"no Generate in:\n$plan")
      gens.foreach { g =>
        var c = g.child
        while (c.isInstanceOf[ProjectExec] || c.isInstanceOf[FilterExec] ||
            c.isInstanceOf[InputAdapter]) c = c.children.head
        assert(c.isInstanceOf[WindowExec], s"Generate not fed by a Window:\n$plan")
      }
      assert(collect(plan) {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }.isEmpty, s"shuffled join in the pair build:\n$plan")
      assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty,
        s"ObjectHashAggregate in the pair build:\n$plan")
    }
  }

  /** tfidf_top's token join builds on the df side, and the join and the
    * per-doc top-k run in every doc-keyed partition: had AQE broadcast the
    * tf side, the join would stream the few df rows in one task. */
  private def tfidfJoinShape(plan: SparkPlan): Unit = {
    val joins = collect(plan) { case j: HashJoin => j }
    assert(joins.length == 1, s"token joins in\n$plan")
    val j = joins.head
    val build = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left
      else j.right
    assert(build.output.map(_.name) == Seq("token", "df"),
      s"the tf side builds the join in\n$plan")
    val finals = collect(plan) {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(finals.map(_.outputPartitioning.numPartitions) ==
      Seq(spark.sparkContext.defaultParallelism), s"top-k partitions in\n$plan")
  }

  test("per-key top-k plan shape: no Window; each collect_top_k is a " +
       "partial and a final ObjectHashAggregate around at most one " +
       "exchange (similar_topk, similar_ivf, similar_pq, tfidf_top)") {
    def topK(a: ObjectHashAggregateExec, mode: Any) =
      a.aggregateExpressions.exists(e =>
        e.mode == mode && e.aggregateFunction.isInstanceOf[CollectTopK])
    def below(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    // the rankers each query reaches: cosineTopK; ivfProbes + rerankExact;
    // adcTopK + rerankExact; tfidf_top's per-document pick
    for ((name, sites) <- Seq("similar_topk" -> 1, "similar_ivf" -> 2,
        "similar_pq" -> 2, "tfidf_top" -> 1)) {
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect() // the final adaptive plan
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case w: WindowExec => w }.isEmpty,
        s"$name: Window in\n$plan")
      val finals = collect(plan) { case a: ObjectHashAggregateExec if topK(a, Final) => a }
      assert(finals.length == sites, s"$name: ${finals.length} final top-k in\n$plan")
      finals.foreach { f =>
        // down the single-child chain from the final to the partial
        var c: SparkPlan = f.child
        var exchanges = 0
        while (!c.isInstanceOf[ObjectHashAggregateExec]) {
          if (c.isInstanceOf[Exchange]) exchanges += 1
          val next = below(c)
          assert(next.length == 1, s"$name: ${c.nodeName} between the top-k merges")
          c = next.head
        }
        // none where the input is already hash-partitioned on the key:
        // the rerank's candidates come from the pick keyed on q_id
        assert(topK(c.asInstanceOf[ObjectHashAggregateExec], Partial) &&
          exchanges <= 1, s"$name: $exchanges exchanges to ${c.nodeName} in\n$plan")
      }
      if (name == "tfidf_top") tfidfJoinShape(plan)
    }
  }

  test("supplier_waiting plan shape: decorrelated — ONE lineitem scan, no self-join") {
    // the Q21 claim: the EXISTS + NOT EXISTS formulation would scan/shuffle
    // lineitem three times; the aggregation form scans it exactly once
    val df = graft.SparkEntry.queries("supplier_waiting")(
      spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(df)
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(lineitemScans == 1,
      s"expected exactly 1 lineitem scan, found $lineitemScans in:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no cartesian anywhere")
  }
}
