package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Dedup, Similarity, TextOps}
import graft.sources.Tables

/** Nonlinearity probe for the dedup pipeline (VERDICT r4 next-steps #7):
  * times each stage — signature, candidate pairs, full cluster+filter —
  * on the fixture corpus at 1× and at R× (default 10×, ≈50k docs from
  * sf0.1), and prints the observed R×/1× wall ratio per stage next to the
  * replication factor. A stage whose ratio grows much faster than R is
  * superlinear and would not survive a real scale-up; at 100 TB the
  * corpus is ~10^9 docs and only O(n)/O(n log n) stages are acceptable.
  *
  * The R× corpus is DERIVED from the fixture (never synthesized fresh):
  * each document gains R−1 near-duplicate replicas distinguished by one
  * appended replica token, so the MinHash path sees realistic heavy
  * near-dup pressure — every band bucket holds ~R signatures, candidate
  * pairs grow ~R²/2 per document group (bounded by the hot-bucket cap),
  * and connected components must merge R-member clusters. This is the
  * adversarial shape for LSH dedup, not the easy one.
  *
  * Bench-only (no oracle): correctness of every stage is already graded
  * by `minhash_sig` / `dedup_minhash*` / `dedup_clusters` / `dedup_corpus`
  * in CORRECTNESS; this main exists to measure the SHAPE of the cost
  * curve. Output: one JSON line, same artifact conventions as [[Bench]].
  */
object ScaleSmoke {

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** R near-dup replicas per document; replica 0 is the original text. */
  private def replicate(docs: DataFrame, r: Int): DataFrame =
    docs.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
      .select(
        (col("doc_id") * r + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zqreplica"),
            col("rep").cast("string"))).as("text"),
        col("lang"), col("source"), col("n_chars"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rep = args.lift(1).map(_.toInt).getOrElse(10)
    // optional trailing stage names: probe only those (adjudicating a
    // single outlier ratio without paying the full ~10-minute suite)
    val only = args.drop(2).toSet
    def keep(name: String): Boolean = only.isEmpty || only(name)
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")

    // each stage runs the pipeline from the raw corpus up to its own
    // output (cumulative cost — what a user of that stage actually pays)
    val stagesAll: Seq[(String, DataFrame => Long)] = Seq(
      // force the signature kernel through an aggregate sink — a bare
      // count() lets Catalyst prune the minhash computation entirely and
      // times an empty scan
      "sig" -> (d => Dedup.minhashSig(d)
        .agg(sum(element_at(col("sig"), 1).cast("double")).as("s"),
          count(lit(1)).as("n")).head().getLong(1)),
      "pairs" -> (d => Dedup.minhashPairsCapped(d).count()),
      "corpus" -> (d => Dedup.dedupCorpus(d).count()),
      // incremental ingest against the heavy-near-dup corpus: under R×
      // replication every band bucket on the existing side is hot, so this
      // measures the representative-index reduction doing its job (lookup
      // fan-out stays ≤ B per new doc no matter how hot the bucket)
      "incr" -> (d => Dedup.incrementalDedup(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0)).count()),
      // quality ∧ decontamination — the curation half of the pipeline
      // (same composition as the graded `corpus_curated`)
      "curate" -> { d =>
        val q = TextOps.textQuality(d, carry = Seq("lang"))
          .select(col("doc_id"), col("lang"), col("keep"))
        val f = Decontaminate.flag(d).select(col("doc_id"), col("contaminated"))
        q.join(f, "doc_id")
          .filter(col("keep") && !col("contaminated"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
          .count()
      },
      // duplicated-span coverage under maximal dup pressure: with R
      // near-identical replicas EVERY window is cross-doc duplicated, so
      // the dup-hash table and the island windows both run at full load
      "spans" -> (d => graft.operators.SpanDedup.spanCoverage(d).count()),
      // content-defined chunking + cross-doc chunk counts (corpus-linear
      // tokenize/hash + per-doc windows + chunk-hash groupBy)
      "cdc" -> (d => TextOps.chunkCdc(d)
        .groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2).count()),
      // one BPE iteration (pair-count groupBy + greedy-apply windows);
      // bpeTrain is iters x this by construction (lineage cut per round)
      "bpe" -> (d => TextOps.bpeStep(d).count()),
      // integer-DFT audio bins: map-only decode + per-frame fold (sum
      // sink forces the bin computation past column pruning)
      "spectrum" -> (d => graft.operators.Multimodal.wavSpectrum(d)
        .agg(sum(col("p_mid")).cast("double").as("s"), count(lit(1)).as("n"))
        .head().getLong(1)),
      // phrase search: posting explode (corpus-linear) + broadcast term
      // join + per-start count — match count forces the whole chain, and
      // under R× replication every replica matches, so the candidate
      // stream scales with the corpus (the worst case for this stage)
      "grep" -> { d =>
        val phrases = {
          val s = d.sparkSession
          import s.implicits._
          graft.queries.TextQueries.GrepPhrases.toDF("phrase_id", "phrase")
        }
        graft.operators.PhraseIndex.matches(d, phrases).count()
      },
      // LSH-vs-exact recall audit: under R× replication the TRUE pair set
      // itself grows ~R²/2 per doc group (replicas are mutual near-dups),
      // so cost here tracks true-dup density — output-linear, the honest
      // bound for any complete pair enumerator
      "recall" -> (d => Dedup.minhashRecall(d).head().getLong(0)),
      // one logistic-GD iteration: two map-side-combined groupBys over
      // the sparse feature table — corpus-linear per round
      "logreg" -> (d => graft.queries.TextQueries.logregTrain(d, 1).count()),
      // BM25 ranked search: the tf/df index build is corpus-linear, and
      // under R× replication every query-term posting list grows R× while
      // the per-query top-k stays bounded by the top-k monoid — scoring
      // cost must track postings, not the corpus×query grid
      "bm25" -> (d => graft.queries.TextQueries.searchBm25(d).count()),
      // per-doc duplication density under MAXIMAL near-dup pressure: every
      // replica shares its source's shingles, so the census counts grow R x
      // per shingle while rows stay one per (doc, shingle) - corpus-linear
      "density" -> (d => Dedup.dupDensity(d).count()),
      // MOSS winnow match step under MAXIMAL boilerplate pressure: every
      // replica of a doc shares its whole fingerprint set, so every fp is
      // selected in ≥ R documents — at R=10 the >8-doc hot-fp drop fires
      // on the ENTIRE shared set, and only suffix-local fps survive to the
      // pair join. This is the cap doing for fingerprints what the band
      // cap does for MinHash buckets: the R²/2 pair blow-up never runs
      "winnow" -> (d => graft.queries.TextQueries.winnowMatches(d).count()),
      // trained-classifier GK cut: train (T map-side-combined epochs) +
      // margin scoring (corpus-linear) + per-shard GK sketches union-merged
      // — the 100 TB replacement for the exact global-window median
      "gkcut" -> (d => graft.queries.TextQueries
        .logregApplyGk(d, graft.queries.TextQueries.LrIters).count()),
      // threshold yield sweep (VERDICT r11 "Next" #5): ONE verification
      // pass serving four τ rungs — under R× near-dup replication the
      // candidate set is what grows (capped per bucket), and the sweep
      // must stay CANDIDATE-linear: its cost curve tracks `pairs`, never
      // the corpus square
      "sweep" -> (d => Dedup.dedupSweep(d, Seq(300L, 500L, 700L, 900L))
        .count()),
      // provenance attribution: clustering on signatures (contains the CC
      // rounds) + two broadcast-scale joins of the drop list to the
      // doc→source map — candidate-linear like the cluster stage it wraps
      "attrib" -> (d => Dedup.dedupAttribution(d).count()),
      // image near-dup LSH under R× more distinct images: the 24-bit
      // dHash's three 8-bit band keys span only 256 buckets each, so
      // bucket sizes grow R-linearly with the corpus and the spanning-star
      // cap must do for thumbnails what it does for text buckets — pair
      // output stays cap-bounded while fingerprints stay corpus-linear
      "media" -> (d => graft.operators.Multimodal.ppmPhashPairs(d).count()),
      // trigram Kneser-Ney scoring: the trigram count tables grow with
      // distinct trigram TYPES (Heaps-bounded, sub-corpus), the scoring
      // join is corpus-linear — cost must track the trigram stream
      "kn_lm" -> (d => graft.queries.TextQueries.trigramKnLogProb(d)
        .agg(coalesce(sum(col("n_trigrams")), lit(0L)).as("s"))
        .head().getLong(0)),
      // TextRank: the bigram scan is the only corpus-sized pass; the
      // 4-round iteration runs on the VOCAB-sized graph, so R× corpus
      // must cost ~R× scan + O(1) iteration
      "textrank" -> (d => graft.queries.TextQueries.textRank(d).count()),
      // per-doc novelty: one (shingle-hash) exchange + first-occurrence
      // window — under R× near-dup replication the hash groups get hot
      // (every replica shares its source's shingles) but rows stay one
      // per (doc, shingle): corpus-linear like the dedup census
      "novelty" -> (d => graft.queries.TextQueries.docNovelty(d)
        .agg(coalesce(sum(col("n_novel")), lit(0L)).as("s"))
        .head().getLong(0)))
    val stages = stagesAll.filter { case (n, _) => keep(n) }

    def run(corpus: DataFrame): Map[String, (Double, Long)] = {
      corpus.cache().count() // isolate replication cost from stage timing
      val out = stages.map { case (name, f) =>
        val t0 = System.nanoTime()
        val n = f(corpus)
        name -> ((System.nanoTime() - t0) / 1e9, n)
      }.toMap
      corpus.unpersist(blocking = true)
      out
    }

    val (one, big) = if (stages.isEmpty) (Map.empty[String, (Double, Long)],
      Map.empty[String, (Double, Long)])
    else {
      run(base.limit(200)) // warmup: codegen + JIT on a slice, then discard
      spark.catalog.clearCache()
      val o = run(base)
      spark.catalog.clearCache()
      (o, run(replicate(base, rep)))
    }

    // ANN corpus scaling: 64 fixed queries against the kv corpus at 1× and
    // R× (vec_id remapped, vectors unchanged). Brute top-k is linear in N
    // by construction (fixed M × N pair scoring); the probed index should
    // track its ~1% candidate slice. Both measured, not assumed.
    val kvBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("k_id"), col("vec").as("kvec"))
    def kvRep(r: Int): DataFrame =
      kvBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("k_id") * r + col("rep")).as("k_id"), col("kvec"))
    val qSide = kvBase.filter(col("k_id") < 64)
      .select(col("k_id").as("q_id"), col("kvec").as("qvec"))
    // PQ probes run against the FROZEN 1× codebook (the real ingest path:
    // a new batch encodes against the existing quantizer, never retrains)
    lazy val pqCb = graft.operators.Pq.codebook(Tables.embeddings(spark, sfDir))
      .localCheckpoint(true)
    val annStagesAll: Seq[(String, DataFrame => Long)] = Seq(
      "ann_brute" -> (kv => Similarity.cosineTopK(qSide, kv, 10).count()),
      "ann_probe" -> (kv => Similarity.annTopKProbed(qSide, kv, 10).count()),
      // Gram matrix: corpus-linear by construction (D²/2 terms per row
      // into a 2080-cell map-side-combined aggregate)
      "gram" -> (kv => graft.operators.EmbedStats.gram(
        kv.select(col("kvec").as("vec")), Similarity.Dim).count()),
      // PQ encode: map-only argmin against the broadcast codebook — must
      // track corpus size linearly. Aggregate sink on `code` forces the
      // argmin (a bare count() would let Catalyst prune it away)
      "pq_encode" -> (kv => graft.operators.Pq.encode(kv, pqCb)
        .agg(sum(col("code")).as("s"), count(lit(1)).as("n"))
        .head().getLong(1)),
      // ADC scan: linear in N like ann_brute but over 4-code rows with
      // M table lookups instead of a 64-dim dot per pair
      "pq_adc" -> (kv =>
        graft.operators.Pq.adcTopK(qSide, kv, pqCb, 10).count()),
      // one k-means iteration (assign + re-mean) — the per-round cost of
      // kmeansTrain; seed build is itself corpus-linear. Sum sinks force
      // the mean computation past column pruning
      "kmeans" -> (kv => Similarity.kmeansStep(kv,
          Similarity.ivfCentroids(kv.select((col("k_id") % 10).as("label"),
            col("kvec").as("vec"))))
        .agg(sum(col("c")).as("sc"), sum(col("n")).as("sn"))
        .head().getLong(1)),
      // one PQ codebook-training iteration against the frozen 1× codebook:
      // the per-round cost of pqTrain — map-only assignment with the
      // subvector carried, then an M×K×S-cell map-side-combined re-mean
      "pq_step" -> (kv => graft.operators.Pq.pqStep(kv, pqCb)
        .agg(sum(col("c")).as("sc"), sum(col("n")).as("sn"))
        .head().getLong(1)),
      // SemDeDup under maximal dup pressure: identical replicas land in
      // one Voronoi cell, so within-cell pairs grow ~R² until the
      // hot-cell star cap bounds them — this probe measures the cap
      // doing its job (cells at R× exceed EmbedBucketCap)
      "semantic" -> (kv => Similarity.semanticDedup(
        kv.select(col("k_id").as("vec_id"), col("kvec").as("vec"),
          (col("k_id") % 10).as("label")), 0.4).count()),
      // MMR rerank: candidate pull is the linear brute scan; the greedy
      // rounds run on M×k rows — corpus-independent after the pull
      "mmr" -> (kv => Similarity.mmrTopK(qSide, kv, 10, 5).count()),
      // attention backward dQ (r13): TWO pair passes (forward aggregate,
      // then the adjoint fold with the M-sized aggregate broadcast back)
      // at fixed M — must track ann_brute's linear-in-N band with a ~2×
      // constant, never superlinear (the weight matrix is never
      // materialized in either pass)
      "grads" -> { kv =>
        val kvv = kv.withColumn("vvec", slice(col("kvec"), 1, 8))
        val g = qSide.select(col("q_id"),
          slice(col("qvec"), 1, 8).as("gvec"))
        graft.operators.Attention.attentionGradQ(qSide, kvv, g)
          .agg(sum(element_at(col("dq"), 1)).as("s"),
            count(lit(1)).as("n"))
          .head().getLong(1)
      },
      // triplet mining: one M×N pair stream through one window pass —
      // linear in N at fixed M, like ann_brute plus the window sort
      "triplets" -> (kv => Similarity.tripletMine(qSide, kv, 3, 4000L).count()),
      // margin-based bitext mining (VERDICT r11 "Next" #5): the fixed
      // 64-query x side against the replicated y side — one pair scan
      // through two stacked Window exchanges; the rank-1/top-k windows
      // must keep the cost in the pair-stream band (linear in N at fixed
      // M, the ann_brute bound plus the two window sorts), never a
      // pair-of-pairs blow-up. τ = 0 so the filter cannot hide the
      // window work behind an empty output
      "bitext" -> (kv => Similarity.mineBitext(
        qSide.select(col("q_id").as("x_id"), col("qvec").as("xvec")),
        kv.select(col("k_id").as("y_id"), col("kvec").as("yvec")),
        4, 0L).count()))
    val annStages = annStagesAll.filter { case (n, _) => keep(n) }
    def runAnn(kv: DataFrame): Map[String, (Double, Long)] = {
      kv.cache().count()
      val out = annStages.map { case (name, f) =>
        val t0 = System.nanoTime()
        val n = f(kv)
        name -> ((System.nanoTime() - t0) / 1e9, n)
      }.toMap
      kv.unpersist(blocking = true)
      out
    }
    val (annOne, annBig) = if (annStages.isEmpty)
      (Map.empty[String, (Double, Long)], Map.empty[String, (Double, Long)])
    else {
      runAnn(kvBase.limit(500)) // warmup
      spark.catalog.clearCache()
      val o = runAnn(kvBase)
      spark.catalog.clearCache()
      (o, runAnn(kvRep(rep)))
    }

    // hybrid RRF composition (VERDICT r10 #4): both arms are probed
    // individually (bm25 in the doc stages; the dense arm is one
    // corpus-linear scan against broadcast per-lang prototypes by
    // construction) — this run confirms the FUSED plan composes without a
    // superlinear join appearing: the full_outer fusion joins two
    // ≤ RrfPoolK-per-lang pools, rank-bounded at any corpus size. Docs and
    // embeddings replicate in lockstep (vec_id tracks doc_id), so the
    // dense arm's corpus and the lexical postings both grow R×.
    val embBase = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("vec"))
    def embRep(r: Int): DataFrame =
      embBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("vec_id") * r + col("rep")).as("vec_id"), col("vec"))
    def runHybrid(d: DataFrame, e: DataFrame): (Double, Long) = {
      d.cache().count(); e.cache().count()
      val t0 = System.nanoTime()
      val n = graft.queries.TextQueries.searchHybridRrf(d, e).count()
      val out = ((System.nanoTime() - t0) / 1e9, n)
      d.unpersist(blocking = true)
      e.unpersist(blocking = true)
      out
    }
    val (hyOne, hyBig) = if (!keep("hybrid_rrf")) ((0.0, 0L), (0.0, 0L))
    else {
      runHybrid(base.limit(200), embBase.limit(200)) // warmup
      spark.catalog.clearCache()
      val o = runHybrid(base, embBase)
      spark.catalog.clearCache()
      (o, runHybrid(replicate(base, rep), embRep(rep)))
    }

    // relational-analytics scaling (VERDICT r12 #5): cohort/RFM run on
    // orders with DISJOINT customer populations per replica (o_custkey
    // remapped, calendar unchanged) — the cohort matrix is calendar-
    // bounded so its ROWS must stay flat while n_active grows R×; RFM's
    // per-customer aggregate is the only R-sized pass, but its three
    // ntile(5) windows rank ALL customers in one unpartitioned sort, so
    // the probe grades that exact-quintile anchor's cost curve (the
    // quantile family's documented 100 TB path is a GK sketch). HHI
    // replicates fact rows under the SAME supplier keys (per-supplier
    // revenue grows R×; dim joins and the region window stay
    // supplier-bounded either way).
    val ordBase = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    def ordRep(r: Int): DataFrame =
      ordBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("o_orderkey") * r + col("rep")).as("o_orderkey"),
          (col("o_custkey") * r + col("rep")).as("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
    val relStagesAll: Seq[(String, DataFrame => Long)] = Seq(
      "cohort" -> (o => graft.queries.RelationalQueries.ordersCohortFrom(o)
        .agg(sum(col("n_active")).as("s"), count(lit(1)).as("n"))
        .head().getLong(1)),
      "rfm" -> (o => graft.queries.RelationalQueries.customerRfmFrom(o)
        .agg(sum(col("n_customers")).as("s"), count(lit(1)).as("n"))
        .head().getLong(1)))
    val relStages = relStagesAll.filter { case (n, _) => keep(n) }
    def runRel(o: DataFrame): Map[String, (Double, Long)] = {
      o.cache().count()
      val out = relStages.map { case (name, f) =>
        val t0 = System.nanoTime()
        val n = f(o)
        name -> ((System.nanoTime() - t0) / 1e9, n)
      }.toMap
      o.unpersist(blocking = true)
      out
    }
    val (relOne, relBig) = if (relStages.isEmpty)
      (Map.empty[String, (Double, Long)], Map.empty[String, (Double, Long)])
    else {
      runRel(ordBase.limit(2000)) // warmup
      spark.catalog.clearCache()
      val o = runRel(ordBase)
      spark.catalog.clearCache()
      (o, runRel(ordRep(rep)))
    }

    val liHhiBase = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    def liHhiRep(r: Int): DataFrame =
      liHhiBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .drop("rep")
    def runHhi(li: DataFrame): (Double, Long) = {
      li.cache().count()
      val t0 = System.nanoTime()
      val n = graft.queries.RelationalQueries.supplierHhiFrom(li,
          Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir),
          Tables.region(spark, sfDir))
        .agg(sum(col("n_suppliers")).as("s"), count(lit(1)).as("n"))
        .head().getLong(1)
      val out = ((System.nanoTime() - t0) / 1e9, n)
      li.unpersist(blocking = true)
      out
    }
    val (hhiOne, hhiBig) = if (!keep("hhi")) ((0.0, 0L), (0.0, 0L))
    else {
      runHhi(liHhiBase.limit(2000)) // warmup
      spark.catalog.clearCache()
      val o = runHhi(liHhiBase)
      spark.catalog.clearCache()
      (o, runHhi(liHhiRep(rep)))
    }

    // docs_topics scaling (VERDICT r12 #5): docs and vectors replicate in
    // LOCKSTEP (vec_id tracks doc_id, like hybrid_rrf) — the trained
    // k-means is KmIters corpus-linear passes, assignment is map-only
    // against broadcast centroids, the token join is corpus-linear, and
    // the top-3-per-topic window runs on (topics × vocab) rows, bounded
    // by token TYPES (Heaps), not the corpus
    val embLblBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("vec"), col("label"))
    def embLblRep(r: Int): DataFrame =
      embLblBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("vec_id") * r + col("rep")).as("vec_id"), col("vec"),
          col("label"))
    def runTopics(d: DataFrame, e: DataFrame): (Double, Long) = {
      d.cache().count(); e.cache().count()
      val t0 = System.nanoTime()
      val n = graft.queries.SimilarityQueries.docsTopicsFrom(d, e)
        .agg(sum(col("tf")).as("s"), count(lit(1)).as("n")).head().getLong(1)
      val out = ((System.nanoTime() - t0) / 1e9, n)
      d.unpersist(blocking = true)
      e.unpersist(blocking = true)
      out
    }
    val (tpOne, tpBig) = if (!keep("topics")) ((0.0, 0L), (0.0, 0L))
    else {
      runTopics(base.limit(200), embLblBase.limit(200)) // warmup
      spark.catalog.clearCache()
      val o = runTopics(base, embLblBase)
      spark.catalog.clearCache()
      (o, runTopics(replicate(base, rep), embLblRep(rep)))
    }

    // interval-join scaling: replicas get DISJOINT user populations
    // (user_id remapped per replica) so qualifying pairs grow linearly —
    // the fair probe for a binned equi-join; pure replication would
    // measure the R² semantic blow-up of duplicated keys, not the plan
    val evBase = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    def evRep(r: Int): DataFrame =
      evBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("event_id") * r + col("rep")).as("event_id"),
          (col("user_id") * r + col("rep")).as("user_id"),
          col("ts"), col("event_type"), col("value"))
    def intervalCount(e: DataFrame): Long = {
      val b = e.select(col("event_id"), col("user_id").as("key"),
        unix_timestamp(col("ts")).as("t"), col("event_type"))
      graft.operators.IntervalJoin.join(
        b.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("key"),
            col("t").as("t0"), (col("t") + 3600L).as("t1")),
        b.filter(col("event_type") === "view")
          .select(col("key"), col("t")), 3600L).count()
    }
    val evStagesAll: Seq[(String, DataFrame => Long)] = Seq(
      "interval" -> intervalCount,
      // EWMA: the event-volume rollup is the only corpus-sized work; the
      // recursion folds the calendar-bounded hourly series (same length
      // at any R — only the counts grow)
      "ewma" -> (e => graft.operators.Resample.hourlyEwma(e)
        .agg(sum(col("ewma_milli")).as("s"), count(lit(1)).as("n"))
        .head().getLong(1)),
      // the window-form monitors share the EWMA's calendar-bounded shape:
      // the event-volume rollup is the only R-sized work; CUSUM's stacked
      // prefix windows, the decomposition's centered MA + hod index, and
      // the burst Viterbi's two folds all run over hours, not events —
      // walls must stay far under R as the grid length is R-invariant
      "monitors" -> { e =>
        val a = graft.operators.Resample.hourlyCusum(e)
          .agg(sum(col("cusum_milli")), count(lit(1)).as("n")).head().getLong(1)
        val b = graft.operators.Resample.hourlySeasonal(e)
          .agg(sum(col("resid_milli")), count(lit(1)).as("n")).head().getLong(1)
        val c = graft.operators.Resample.hourlyBurst(e)
          .agg(sum(col("burst")), count(lit(1)).as("n")).head().getLong(1)
        a + b + c
      },
      // the distribution tests (VERDICT r12 #5): ACF is calendar-bounded
      // like the monitors (deviations + lead columns run over HOURS); the
      // KS statistic pre-aggregates events into (type, value) bins before
      // its cumulative window, so the window input is value-cardinality-
      // bounded and only the map-combined binning pass grows with R
      "monitors2" -> { e =>
        val a = graft.operators.Resample.hourlyAcf(e)
          .agg(sum(col("acf_1")), count(lit(1)).as("n")).head().getLong(1)
        val b = graft.queries.StreamQueries.ksTwoSample(e)
          .agg(sum(col("d_scaled")), count(lit(1)).as("n")).head().getLong(1)
        a + b
      })
    val evStages = evStagesAll.filter { case (n, _) => keep(n) }
    def runEv(e: DataFrame): Map[String, (Double, Long)] = {
      e.cache().count()
      val out = evStages.map { case (name, f) =>
        val t0 = System.nanoTime()
        val n = f(e)
        name -> ((System.nanoTime() - t0) / 1e9, n)
      }.toMap
      e.unpersist(blocking = true)
      out
    }
    val (evOne, evBig) = if (evStages.isEmpty)
      (Map.empty[String, (Double, Long)], Map.empty[String, (Double, Long)])
    else {
      runEv(evBase.limit(2000)) // warmup
      spark.catalog.clearCache()
      val o = runEv(evBase)
      spark.catalog.clearCache()
      (o, runEv(evRep(rep)))
    }

    // graph scaling (VERDICT r8 #5, carried to r10): the part co-purchase
    // graph at 1× and R× with DISJOINT replicas — BOTH keys remapped per
    // replica, so |E|, wedges, and triangles grow linearly and the probe
    // measures the PLAN's cost curve (pure replication would multiply
    // co-purchase multiplicities — a semantic R² blow-up of the graph
    // itself, not a plan property; same reasoning as evRep's disjoint
    // user populations).
    val liBase = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    def liRep(r: Int): DataFrame =
      liBase.withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select((col("l_orderkey") * r + col("rep")).as("l_orderkey"),
          (col("l_partkey") * r + col("rep")).as("l_partkey"),
          (col("l_suppkey") * r + col("rep")).as("l_suppkey"))
    var ccRounds = -1 // set by the components stage, read per corpus below
    var kcRounds = -1L // set by the kcore stage, read per corpus below
    val grStagesAll: Seq[(String, DataFrame => Long)] = Seq(
      // degree-oriented triangle count through the DEFAULT closing-join
      // gate (broadcast: the fixture's edge set sits far under
      // BroadcastMaxEdges even at R×)
      "triangles" -> (li => graft.operators.Triangles.triangleCount(
        graft.operators.Triangles.coEdges(li, "l_orderkey", "l_partkey"))
        .head().getLong(1)),
      // the SAME count through the SHUFFLE_HASH fallback arm, forced via a
      // zero broadcast ceiling — the arm a 100×-edge graph would take.
      // The r8 size gate is only a safe degradation if the fallback's own
      // 10× ratio stays near the broadcast arm's; measured, not assumed.
      "triangles_shuffle" -> (li => graft.operators.Triangles.triangleCount(
        graft.operators.Triangles.coEdges(li, "l_orderkey", "l_partkey"),
        broadcastMaxEdges = 0L).head().getLong(1)),
      // support>=2 component-size histogram (the graded parts_components
      // shape), plus the pointer-jumping round count: rounds are the
      // scale observable wall can't attribute — O(log diameter) means the
      // replicated corpus must converge in the SAME few rounds
      "components" -> { li =>
        val e = graft.operators.Triangles.strongEdges(
          li, "l_orderkey", "l_partkey")
          .select(col("a").as("doc_a"), col("b").as("doc_b"))
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(e)
        ccRounds = rounds
        labels.groupBy(col("label")).agg(count(lit(1)).as("comp_size"))
          .groupBy(col("comp_size")).agg(count(lit(1)).as("n_comps")).count()
      },
      // 3 PageRank rounds (the graded link_rank shape): per-iteration cost
      // is one |V|-rank shuffle + one |E|-message re-aggregation — both
      // must track the replicated graph linearly
      "pagerank" -> (li => graft.operators.LinkRank.ranks(li, 3).count()),
      // k-core peeling: under DISJOINT replication every replica runs the
      // identical cascade, so the peel ROUND COUNT must stay FLAT (the
      // pointer-jumping-rounds argument) while per-round work grows R-linear
      "kcore" -> { li =>
        val r = graft.operators.Triangles.kCore(
          graft.operators.Triangles.coEdges(li, "l_orderkey", "l_partkey"),
          70, 12).head()
        kcRounds = r.getAs[Long]("rounds")
        r.getAs[Long]("n_core_edges")
      },
      // synchronous LPA (the graded parts_lpa shape): a FIXED 3 rounds by
      // construction, so the probe grades pure per-round linearity — the
      // edge⋈label join and the two-level argmax aggregate
      "lpa" -> (li => graft.operators.Triangles.labelPropagation(
        graft.operators.Triangles.strongEdges(li, "l_orderkey", "l_partkey"),
        3).count()),
      // association rules (the graded parts_assoc shape): the basket
      // pair fan-out is basket-size-bounded and DISJOINT replication
      // keeps basket sizes constant, so pairs grow R-linearly
      "assoc" -> (li => graft.operators.Assoc.pairRules(li).count()),
      // common-neighbor link prediction on the strong-tie graph: under
      // DISJOINT replication each replica's wedge set is identical, so
      // candidates grow R-linearly and the top-k cut stays bounded
      "linkpred" -> (li => graft.operators.Triangles.linkPredict(
        graft.operators.Triangles.strongEdges(li, "l_orderkey", "l_partkey"),
        20).count()),
      // multi-source BFS: per-round work is O(|E|) and DISJOINT replicas
      // run identical cascades, so the HOP structure must stay flat while
      // per-round volume grows R-linearly (seeds: a fixed node-id slice,
      // replica-independent by construction)
      "bfs" -> { li =>
        val e = graft.operators.Triangles.strongEdges(
          li, "l_orderkey", "l_partkey")
        val seeds = e.select(col("a").as("node"))
          .filter(col("node") % 97 === 0).distinct()
        graft.operators.Triangles.bfsHops(e, seeds, 4)
          .agg(coalesce(sum(col("n_nodes")), lit(0L)).as("s"))
          .head().getLong(0)
      })
    val grStages = grStagesAll.filter { case (n, _) => keep(n) }
    def runGr(li: DataFrame): Map[String, (Double, Long)] = {
      li.cache().count()
      val out = grStages.map { case (name, f) =>
        val t0 = System.nanoTime()
        val n = f(li)
        name -> ((System.nanoTime() - t0) / 1e9, n)
      }.toMap
      li.unpersist(blocking = true)
      out
    }
    val (grOne, ccRounds1, kcRounds1) = if (grStages.isEmpty)
      (Map.empty[String, (Double, Long)], -1, -1L)
    else {
      runGr(liBase.limit(3000)) // warmup
      spark.catalog.clearCache()
      val o = runGr(liBase)
      (o, ccRounds, kcRounds)
    }
    val (grBig, ccRoundsR, kcRoundsR) = if (grStages.isEmpty)
      (Map.empty[String, (Double, Long)], -1, -1L)
    else {
      spark.catalog.clearCache()
      val b = runGr(liRep(rep))
      (b, ccRounds, kcRounds)
    }

    val nDocs = base.count()
    def fmt(name: String, o: (Double, Long), b: (Double, Long)): String = {
      val ((w1, n1), (wr, nr)) = (o, b)
      s""""$name":{"wall_1x":${r3(w1)},"wall_${rep}x":${r3(wr)},""" +
        s""""ratio":${r3(wr / math.max(w1, 1e-9))},"rows_1x":$n1,"rows_${rep}x":$nr}"""
    }
    val qs = (stages.map { case (name, _) => fmt(name, one(name), big(name)) } ++
      annStages.map { case (name, _) => fmt(name, annOne(name), annBig(name)) } ++
      (if (keep("hybrid_rrf")) Seq(fmt("hybrid_rrf", hyOne, hyBig)) else Nil) ++
      relStages.map { case (name, _) => fmt(name, relOne(name), relBig(name)) } ++
      (if (keep("hhi")) Seq(fmt("hhi", hhiOne, hhiBig)) else Nil) ++
      (if (keep("topics")) Seq(fmt("topics", tpOne, tpBig)) else Nil) ++
      evStages.map { case (name, _) => fmt(name, evOne(name), evBig(name)) } ++
      grStages.map { case (name, _) => fmt(name, grOne(name), grBig(name)) })
      .mkString("{", ",", "}")
    // JVM-state footer (VERDICT r11 "Next" #7: the same JIT/GC blind spot
    // the bench artifact had): cumulative JIT/GC time and code-cache
    // occupancy at suite end, so a degraded-JVM probe run adjudicates
    // itself the way a degraded bench run now does
    val (ccUsed, ccMax) = Bench.codeCache()
    val jvm =
      s""""jvm":{"jit_ms":${Bench.jitMs()},"gc_ms":${Bench.gcMs()},""" +
        s""""code_cache_used_mb":${ccUsed / (1 << 20)},"code_cache_max_mb":${ccMax / (1 << 20)}}"""
    val line =
      s"""{"metric":"scale_smoke","rep":$rep,"docs_1x":$nDocs,"cc_rounds_1x":$ccRounds1,"cc_rounds_${rep}x":$ccRoundsR,"kcore_rounds_1x":$kcRounds1,"kcore_rounds_${rep}x":$kcRoundsR,"stages":$qs,$jvm,"sf":"$sfDir"}"""
    println(line)
    System.err.println(line)
    spark.stop()
  }
}
