package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.operators.{Pq, Similarity}
import graft.sources.Tables

/** Driver-facing similarity-search queries over `embeddings`: exact cosine
  * top-k, sketch-prefiltered ANN top-k (256-bit sign sketch → hamming
  * prefilter → exact rerank), the measured ANN recall, and banded-LSH
  * embedding near-dup pairs.
  */
object SimilarityQueries {

  /** query-side rows (vec_id < MQ) for the top-k queries. */
  private val MQ = 64
  private val TopK = 10

  /** ANN k matches [[TopK]] so `similar_ann_recall` is recall@10 against
    * the exact result on the identical query set. */
  private val AnnK = 10

  /** no true near-dups in the synthetic embeddings (max pairwise cosine
    * ≈ 0.51 at sf0.01) — 0.4 exercises the band join + threshold with a
    * non-empty result. */
  private val MinCos = 0.4

  /** semantic-dedup duplicate threshold — same cosine bar as the LSH
    * near-dup path so the two recipes grade the same notion of "dup". */
  private val SemDedupTau = 0.4

  private def emb(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  /** ONE SemDeDup pass per session shared by `dedup_semantic` and
    * `dedup_corpus_semantic` (VERDICT r12 #2) — the result table
    * (duplicate-component members only, dup-mass-sized) is already the
    * eager checkpoint [[Similarity.semanticDedupWith]] produces; the memo
    * just stops the second query from re-running the whole k-means-assign
    * + CC pass. Bench restores memo state between same-query runs. */
  private def semanticMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"semantic_dedup:$dir:$SemDedupTau")(
      Similarity.semanticDedup(emb(s, dir), SemDedupTau))

  /** ONE KmIters-round k-means training per session: `docs_topics` and
    * `dedup_semantic_trained` consume the IDENTICAL trained quantizer
    * (same kv side, same seed centroids, same iteration count) — the
    * memoized table is centroid-sized. */
  private def trainedCentsMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"kmeans_trained:$dir:$KmIters")(
      Similarity.kmeansTrainedCentroids(kvSide(s, dir),
        ivfCentsMemo(s, dir), KmIters))

  /** ONE coarse-quantizer build per session (r15): the label-mean IVF
    * centroid table is a one-pass corpus aggregate consumed by ~14
    * queries, each of which re-ran it inline; the memoized table is
    * nlist × dim — model-sized. (The memo's checkpoint replaces the
    * explicit `.localCheckpoint(true)` some call sites carried.) */
  private def ivfCentsMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"ivf_cents:$dir")(
      Similarity.ivfCentroids(emb(s, dir)))

  /** ONE label-mean PQ codebook build per session (r15) — same contract
    * as [[ivfCentsMemo]]; M × K × dsub cells, model-sized. */
  private def pqCbMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"pq_codebook:$dir")(
      Pq.codebook(emb(s, dir)))

  /** ONE `PqIters`-round PQ training per session shared by `pq_train`
    * (the exploded step table) and `similar_pq_trained` (the trained
    * codebook derived from that same step) — the bpeMemo pattern. */
  private def pqStepMemo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caching.sessionMemo(s, s"pq_step:$dir:$PqIters")(
      Pq.pqTrain(kvSide(s, dir), pqCbMemo(s, dir), PqIters))

  /** ONE pair of power-iteration chains per session (r16): the v1 chain
    * and the deflated v2 chain (PowerIters rounds each) were re-derived
    * inline by `embed_power_train`, `embed_power_deflate`, AND
    * `embed_project` — 2·PowerIters corpus passes (each with its own
    * aggregate + collect jobs) per query. The chains are model-sized
    * (2·PowerIters·D quantized longs); each consumer resumes its graded
    * output from them in ONE corpus pass (EmbedStats.…From), emitting
    * bit-identical rows. `embed_power_conv` keeps its own loop — its
    * round count is decided by the data, not a constant. */
  private def powerChainsMemo(s: SparkSession, dir: String)
      : (Seq[Array[Long]], Seq[Array[Long]]) = {
    val df = graft.operators.Caching.sessionMemo(
        s, s"power_chains:$dir:$PowerIters") {
      val (c1, c2) = graft.operators.EmbedStats.trainChains(
        emb(s, dir).select(col("vec")), PowerIters)
      val rows = for {
        (chain, seq) <- Seq(1 -> c1, 2 -> c2)
        (vq, round) <- seq.zipWithIndex
        (v, pos) <- vq.zipWithIndex
      } yield (chain, round + 1, pos, v)
      import s.implicits._
      rows.toDF("chain", "round", "pos", "vq")
    }
    val rows = df.collect()
    def arr(chain: Int, round: Int): Array[Long] = {
      val a = rows.filter(r => r.getInt(0) == chain && r.getInt(1) == round)
        .sortBy(_.getInt(2)).map(_.getLong(3))
      require(a.nonEmpty, s"power chain memo missing chain=$chain round=$round")
      a
    }
    ((1 to PowerIters).map(arr(1, _)), (1 to PowerIters).map(arr(2, _)))
  }

  private def qSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < MQ)
      .select(col("vec_id").as("q_id"), col("vec").as("qvec"))

  /** q_id offset for the perturbed query set (keeps perturbed ids disjoint
    * from kv ids, so the source vector is NOT excluded by the self-pair
    * filter — finding it is the whole point). */
  private val QOffset = 1000000L

  /** perturbation amplitude: |noise|² ≈ 64·amp²/12 = 0.12 on unit vectors →
    * cos(query, source) ≈ 1/√1.12 ≈ 0.945 — the strong-neighbor geometry
    * the prefix-bucket index targets (see Similarity.annTopKProbed). */
  private val PerturbAmp = 0.15

  /** Strong-neighbor query set derived from the fixture: each query is a
    * deterministically perturbed copy of an existing vector (md5 noise
    * stream `pq:<vec_id>:<d>`, reproduced exactly by the oracle) — the
    * "find the source of this corrupted copy" workload. */
  private def perturbedQSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < MQ)
      .select((col("vec_id") + QOffset).as("q_id"),
        transform(col("vec"), (x, d) =>
          x + lit(PerturbAmp) *
            (VecOps.u01(concat(lit("pq:"), col("vec_id").cast("string"),
              lit(":"), d.cast("string"))) - lit(0.5))).as("qvec"))

  private val perturbedQCte =
    s"""SELECT vec_id + $QOffset AS q_id,
       |  list_transform(generate_series(0, ${Similarity.Dim - 1}),
       |    d -> vv[d+1] + $PerturbAmp * (${VecOps.u01Sql("'pq:' || vec_id || ':' || d")} - 0.5)) AS qv
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings WHERE vec_id < $MQ)""".stripMargin

  private def kvSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id").as("k_id"), col("vec").as("kvec"))

  private val cosSql =
    "list_dot_product(qv, kv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(kv, kv)))"

  private val topkOracle =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $MQ),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |p AS (SELECT q_id, k_id, $cosSql AS cos
       |      FROM q CROSS JOIN k WHERE k_id <> q_id),
       |r AS (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM p)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM r WHERE rank <= $TopK""".stripMargin

  /** Oracle dual of the sketch ANN: planes as a 256-list of 64-vectors from
    * the same md5 stream, bits as 0/1 lists (DuckDB BIGINT cannot hold bit
    * 63, so the oracle never packs words — the hamming count is identical),
    * then the same hamming-prefilter → top-C → exact-rerank pipeline. */
  private val annOracle = {
    val planeVec =
      s"list_transform(generate_series(0, ${Similarity.Dim - 1}), d -> ${VecOps.u01Sql("'plane:' || p || ':' || d")} - 0.5)"
    s"""WITH pl AS (SELECT list(pv ORDER BY p) AS pls
       |            FROM (SELECT p, $planeVec AS pv
       |                  FROM (SELECT unnest(generate_series(0, ${Similarity.SketchBits - 1})) AS p))),
       |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $MQ),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |qb AS (SELECT q_id, qv, list_transform(pls, w -> CASE WHEN list_dot_product(qv, w) > 0 THEN 1 ELSE 0 END) AS qbits
       |       FROM q CROSS JOIN pl),
       |kb AS (SELECT k_id, kv, list_transform(pls, w -> CASE WHEN list_dot_product(kv, w) > 0 THEN 1 ELSE 0 END) AS kbits
       |       FROM k CROSS JOIN pl),
       |h AS (SELECT q_id, k_id,
       |        CAST(list_sum(list_transform(generate_series(1, ${Similarity.SketchBits}),
       |               i -> CASE WHEN qbits[i] <> kbits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |      FROM qb CROSS JOIN kb WHERE k_id <> q_id),
       |c AS (SELECT q_id, k_id
       |      FROM (SELECT q_id, k_id,
       |              row_number() OVER (PARTITION BY q_id ORDER BY hamming, k_id) AS hrank
       |            FROM h WHERE hamming <= ${Similarity.HammingMax})
       |      WHERE hrank <= ${Similarity.RerankC}),
       |r AS (SELECT c.q_id, c.k_id, $cosSql AS cos
       |      FROM c JOIN qb ON qb.q_id = c.q_id JOIN kb ON kb.k_id = c.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $AnnK""".stripMargin
  }

  /** cosine threshold for the embedding decontamination drop list: the
    * perturbed eval copies sit at cos ≈ 0.945 to their source vectors;
    * 0.9 flags exactly the leaked sources and nothing else (max unrelated
    * pairwise cosine ≈ 0.51 in the fixture). */
  private val EmbedDecontamTau = 0.9

  /** Oracle dual of [[Similarity.embedDecontaminate]]: same plane/sketch
    * CTEs as the ANN oracle (hamming over 0/1 bit lists), same raw-double
    * threshold compares, aggregated per train vector. */
  private val embedDecontamOracle = {
    val planeVec =
      s"list_transform(generate_series(0, ${Similarity.Dim - 1}), d -> ${VecOps.u01Sql("'plane:' || p || ':' || d")} - 0.5)"
    s"""WITH pl AS (SELECT list(pv ORDER BY p) AS pls
       |            FROM (SELECT p, $planeVec AS pv
       |                  FROM (SELECT unnest(generate_series(0, ${Similarity.SketchBits - 1})) AS p))),
       |q AS ($perturbedQCte),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |qb AS (SELECT q_id, qv, list_transform(pls, w -> CASE WHEN list_dot_product(qv, w) > 0 THEN 1 ELSE 0 END) AS qbits
       |       FROM q CROSS JOIN pl),
       |kb AS (SELECT k_id, kv, list_transform(pls, w -> CASE WHEN list_dot_product(kv, w) > 0 THEN 1 ELSE 0 END) AS kbits
       |       FROM k CROSS JOIN pl),
       |h AS (SELECT q_id, k_id, $cosSql AS cos,
       |        CAST(list_sum(list_transform(generate_series(1, ${Similarity.SketchBits}),
       |               i -> CASE WHEN qbits[i] <> kbits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |      FROM qb CROSS JOIN kb)
       |SELECT k_id, count(*) AS n_evals,
       |       ${VecOps.qroundSql("max(cos)", 4)} AS max_cos
       |FROM h
       |WHERE hamming <= ${Similarity.HammingMax} AND cos >= $EmbedDecontamTau
       |GROUP BY k_id""".stripMargin
  }

  /** Oracle dual of the prefix-bucketed probe path on the perturbed query
    * set. The Spark plan probes buckets via the 697-mask equi-join; the
    * oracle filters on prefix-hamming ≤ radius over the first PrefixBits
    * sign bits — identical pair sets (bucket = XOR of prefixes; popcount ≤
    * radius ⇔ the mask exists), different but equivalent formulation. */
  private def probeTopkSql(k: Int) = {
    val planeVec =
      s"list_transform(generate_series(0, ${Similarity.Dim - 1}), d -> ${VecOps.u01Sql("'plane:' || p || ':' || d")} - 0.5)"
    s"""WITH pl AS (SELECT list(pv ORDER BY p) AS pls
       |            FROM (SELECT p, $planeVec AS pv
       |                  FROM (SELECT unnest(generate_series(0, ${Similarity.SketchBits - 1})) AS p))),
       |q AS ($perturbedQCte),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |qb AS (SELECT q_id, qv, list_transform(pls, w -> CASE WHEN list_dot_product(qv, w) > 0 THEN 1 ELSE 0 END) AS qbits
       |       FROM q CROSS JOIN pl),
       |kb AS (SELECT k_id, kv, list_transform(pls, w -> CASE WHEN list_dot_product(kv, w) > 0 THEN 1 ELSE 0 END) AS kbits
       |       FROM k CROSS JOIN pl),
       |h AS (SELECT q_id, k_id,
       |        CAST(list_sum(list_transform(generate_series(1, ${Similarity.PrefixBits}),
       |               i -> CASE WHEN qbits[i] <> kbits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS pham,
       |        CAST(list_sum(list_transform(generate_series(1, ${Similarity.SketchBits}),
       |               i -> CASE WHEN qbits[i] <> kbits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |      FROM qb CROSS JOIN kb WHERE k_id <> q_id),
       |c AS (SELECT q_id, k_id
       |      FROM (SELECT q_id, k_id,
       |              row_number() OVER (PARTITION BY q_id ORDER BY hamming, k_id) AS hrank
       |            FROM h WHERE pham <= ${Similarity.ProbeRadius})
       |      WHERE hrank <= ${Similarity.RerankC}),
       |r AS (SELECT c.q_id, c.k_id, $cosSql AS cos
       |      FROM c JOIN qb ON qb.q_id = c.q_id JOIN kb ON kb.k_id = c.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $k""".stripMargin
  }

  /** Exact brute-force top-k on the same perturbed query set (recall base). */
  private def probeBruteSql(k: Int) =
    s"""WITH q AS ($perturbedQCte),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |p AS (SELECT q_id, k_id, $cosSql AS cos
       |      FROM q CROSS JOIN k WHERE k_id <> q_id),
       |r AS (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM p)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM r WHERE rank <= $k""".stripMargin

  private val probeRecallOracle =
    s"""WITH brute AS (SELECT * FROM (${probeBruteSql(1)}) tb),
       |ann AS (SELECT * FROM (${probeTopkSql(1)}) ta),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN ann ON brute.q_id = ann.q_id AND brute.k_id = ann.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  private val annRecallOracle =
    s"""WITH brute AS (SELECT * FROM ($topkOracle) tb),
       |ann AS (SELECT * FROM ($annOracle) ta),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN ann ON brute.q_id = ann.q_id AND brute.k_id = ann.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  /** Oracle dual of the IVF path on the perturbed query set: centroids =
    * per-label qrounded means (list(c ORDER BY i) rebuilds the vector),
    * nearest-centroid assignment and the nprobe probe list both rank by
    * (centroid cosine DESC, list_id) — identical tie-break to the Spark
    * plan's struct(−cos, list_id) argmin — then exact-cosine rerank of the
    * probed lists' union. Centroid quantization (4 decimals, both engines)
    * is what makes the Voronoi assignment hash-stable cross-engine. */
  private def ivfTopkSql(k: Int, nprobe: Int = Similarity.NProbe,
                         centWhere: String = "", kvWhere: String = "") = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH c0 AS (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |            FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |                    unnest(range(len(embedding))) AS i FROM embeddings$centWhere)
       |            GROUP BY label, i),
       |cents AS (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |          FROM c0 GROUP BY label),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings$kvWhere),
       |asn AS (SELECT k_id, list_id FROM (
       |          SELECT k_id, list_id,
       |            row_number() OVER (PARTITION BY k_id
       |              ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |          FROM k CROSS JOIN cents) WHERE rn = 1),
       |q AS ($perturbedQCte),
       |pr AS (SELECT q_id, list_id FROM (
       |         SELECT q_id, list_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${cosOf("qv", "cvec")} DESC, list_id) AS rn
       |         FROM q CROSS JOIN cents) WHERE rn <= $nprobe),
       |cand AS (SELECT q_id, k_id FROM pr JOIN asn USING (list_id)
       |         WHERE k_id <> q_id),
       |r AS (SELECT cand.q_id, cand.k_id, $cosSql AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN k ON k.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $k""".stripMargin
  }

  private val ivfRecallOracle =
    s"""WITH brute AS (SELECT * FROM (${probeBruteSql(1)}) tb),
       |ivf AS (SELECT * FROM (${ivfTopkSql(1)}) ti),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN ivf ON brute.q_id = ivf.q_id AND brute.k_id = ivf.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  /** Oracle dual of one k-means iteration: the same centroid/assignment
    * CTEs as [[ivfTopkSql]], then per-(list, dim) means over the assigned
    * vectors. */
  private val kmeansStepOracle = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH c0 AS (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |            FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |                    unnest(range(len(embedding))) AS i FROM embeddings)
       |            GROUP BY label, i),
       |cents AS (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |          FROM c0 GROUP BY label),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |asn AS (SELECT k_id, list_id FROM (
       |          SELECT k_id, list_id,
       |            row_number() OVER (PARTITION BY k_id
       |              ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |          FROM k CROSS JOIN cents) WHERE rn = 1)
       |SELECT list_id, CAST(i AS BIGINT) AS pos,
       |  ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c, count(*) AS n
       |FROM (SELECT asn.list_id, unnest(kv)::DOUBLE AS x,
       |        unnest(range(len(kv))) AS i
       |      FROM asn JOIN k USING (k_id))
       |GROUP BY list_id, i""".stripMargin
  }

  /** Training iterations graded by `kmeans_train`/`similar_ivf_trained` —
    * matches [[Similarity.kmeansTrain]]'s composition depth. */
  private val KmIters = 3

  /** power-iteration rounds graded by `embed_power_train` — matches the
    * other composed trainer loops' depth (kmeans_train, pq_train). */
  private val PowerIters = 3

  /** ε-stop parameters graded by `embed_power_conv`: stop when the
    * quantized direction moves < 450 grid units (of Q=1e4) in every
    * dimension — integer-exact cross-engine. Movement trace at the
    * fixture SFs (see EmbedStats.powerTrainConverged): fires at round
    * 5 (sf0.001), 4 (sf0.01), 3 (sf0.1); 6 bounds the oracle chain. */
  private val PowerConvEps = 450L
  private val PowerConvMax = 6

  /** Chained-CTE dual of the k-means training LOOP: seed centroids
    * `cents0` (per-label qrounded means), then `iters` rounds of
    * (argmax re-assign `asn_i` under `cents_{i-1}`, re-mean `st_i`,
    * rebuild `cents_i`). Each round's means are 4-decimal quantized —
    * exactly what [[Similarity.kmeansStep]] emits and
    * [[Similarity.centroidsFromStep]] reassembles — so every round's
    * Voronoi argmax sees bit-identical centroids cross-engine. */
  private def kmeansChainSqlPrefix(iters: Int): String = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val sb = new StringBuilder
    // every CTE MATERIALIZED: the conv oracle references each st_t from
    // its movement CTE, the next round, AND its output branch — DuckDB's
    // default inlining re-executes the whole upstream chain per reference,
    // compounding per round (the link_rank_conv lesson, r13; re-surfaced
    // as kmeans_train_conv's sf1 oracle timeout, VERDICT r14 #4)
    sb ++= s"""WITH c0 AS MATERIALIZED (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |            FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |                    unnest(range(len(embedding))) AS i FROM embeddings)
       |            GROUP BY label, i),
       |cents0 AS MATERIALIZED (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |           FROM c0 GROUP BY label),
       |k AS MATERIALIZED (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings)""".stripMargin
    for (i <- 1 to iters) sb ++= s""",
       |asn$i AS MATERIALIZED (SELECT k_id, list_id FROM (
       |           SELECT k_id, list_id,
       |             row_number() OVER (PARTITION BY k_id
       |               ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |           FROM k CROSS JOIN cents${i - 1}) WHERE rn = 1),
       |st$i AS MATERIALIZED (SELECT list_id, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c, count(*) AS n
       |         FROM (SELECT asn$i.list_id, unnest(kv)::DOUBLE AS x,
       |                 unnest(range(len(kv))) AS i
       |               FROM asn$i JOIN k USING (k_id))
       |         GROUP BY list_id, i),
       |cents$i AS MATERIALIZED (SELECT list_id, list(c ORDER BY i) AS cvec
       |            FROM st$i GROUP BY list_id)""".stripMargin
    sb.toString
  }

  /** Dual of the composed trainer: the LAST iteration's re-mean output. */
  private val kmeansTrainOracle =
    s"""${kmeansChainSqlPrefix(KmIters)}
       |SELECT list_id, CAST(i AS BIGINT) AS pos, c, n FROM st$KmIters""".stripMargin

  /** TOPIC CLUSTERS (`docs_topics`) — the data-mixing composition a
    * pretraining pipeline runs to understand WHAT its clusters contain:
    * documents clustered by embedding through the TRAINED k-means
    * quantizer (the graded `kmeans_train` chain), then each cluster
    * labeled by its top-3 tokens by in-cluster term count. The
    * embedding-space structure (which k-means sees) meets the lexical
    * surface (which a human reads) in one graded result — a k-means-based
    * topic model's reporting step.
    *
    * Exactness: the assignment reuses the graded trainer + argmax
    * (bit-identical centroids cross-engine); term counts are exact; the
    * top-3 cut orders by (tf, token) — deterministic. Shape: trainer as
    * graded, one token-explode shuffle joined against the |docs|-row
    * assignment (broadcastable here, bucketed at 100 TB), one bounded
    * top-k aggregate per cluster over the (topic, token) aggregate. */
  private def docsTopics(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kv = emb(s, dir).select(col("vec_id").as("k_id"), col("vec").as("kvec"))
    val cents = trainedCentsMemo(s, dir)
    val asn = Similarity.ivfAssign(kv, cents)
      .select(col("k_id").as("doc_id"), col("list_id").as("topic"))
    val toks = docs.select(col("doc_id"),
      explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
    val cnt = toks.join(asn, "doc_id")
      .groupBy(col("topic"), col("token")).agg(count(lit(1)).as("tf"))
    val nd = asn.groupBy(col("topic")).agg(count(lit(1)).as("n_docs"))
    graft.functions.GraftAggs.topKRows(
      cnt, "topic", 3, "tf", ascending = false, "token")
      .join(broadcast(nd), "topic")
      .select(col("topic"), col("n_docs"), col("rank"), col("token"),
        col("tf"))
  }

  private val docsTopicsOracle = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""${kmeansChainSqlPrefix(KmIters)},
       |asnf AS (SELECT k_id, list_id FROM (
       |           SELECT k_id, list_id,
       |             row_number() OVER (PARTITION BY k_id
       |               ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |           FROM k CROSS JOIN cents$KmIters) WHERE rn = 1),
       |tk AS (SELECT doc_id,
       |         unnest(${graft.operators.TextOps.tokensSql("text")}) AS token
       |       FROM documents),
       |cnt AS (SELECT asnf.list_id AS topic, tk.token, count(*)::BIGINT AS tf
       |        FROM tk JOIN asnf ON asnf.k_id = tk.doc_id GROUP BY 1, 2),
       |nd AS (SELECT list_id AS topic, count(*)::BIGINT AS n_docs
       |       FROM asnf GROUP BY 1),
       |r AS (SELECT topic, token, tf, row_number() OVER (PARTITION BY topic
       |        ORDER BY tf DESC, token) AS rank FROM cnt)
       |SELECT r.topic, nd.n_docs, CAST(r.rank AS BIGINT) AS rank,
       |  r.token, r.tf
       |FROM r JOIN nd USING (topic) WHERE r.rank <= 3""".stripMargin
  }

  /** ε-stop parameters graded by `kmeans_train_conv`. eps sits above the
    * isotropic fixture's movement plateau (~0.005–0.016 per round — noise
    * directions keep wandering on the quantized grid, an exact fixpoint
    * never lands), so the criterion fires at round 3–4 DEPENDING ON SF —
    * the stop is decided by the data, not the count. The decision is
    * cross-engine exact because both engines subtract bit-identical
    * qround(4) doubles. KmConvMax bounds the chain (and the oracle's CTE
    * depth); measured movement at round 4+ is ≤0.017 at every fixture SF,
    * leaving ≥0.003 margin to eps. */
  private val KmConvEps = 0.02
  private val KmConvMax = 6

  /** Dual of the CONVERGENCE-GATED trainer: chain KmConvMax rounds, compute
    * each round's max centroid movement vs its input (dm_t), find the first
    * round below eps (conv), and emit THAT round's step via guarded
    * UNION ALL branches — static SQL selecting a dynamic iteration. */
  private val kmeansConvOracle = {
    val n = KmConvMax
    val dms = (1 to n).map { t =>
      val prev =
        if (t == 1) "(SELECT CAST(label AS BIGINT) AS list_id, i, c FROM c0)"
        else s"st${t - 1}"
      s"""dm$t AS MATERIALIZED (SELECT max(coalesce(abs(a.c - b.c), 1.0)) AS m
         |         FROM st$t a FULL JOIN $prev b USING (list_id, i))""".stripMargin
    }.mkString(",\n")
    val trace = (1 to n)
      .map(t => s"SELECT $t AS t, (SELECT m FROM dm$t) AS m")
      .mkString(" UNION ALL ")
    val branches = (1 to n).map(t =>
      s"""SELECT (SELECT it FROM conv) AS iters, list_id,
         |  CAST(i AS BIGINT) AS pos, c, n
         |FROM st$t WHERE (SELECT it FROM conv) = $t""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""${kmeansChainSqlPrefix(n)},
       |$dms,
       |conv AS (SELECT coalesce(min(t), $n) AS it
       |         FROM ($trace) WHERE m < $KmConvEps)
       |$branches""".stripMargin
  }

  /** Dual of IVF search through the TRAINED quantizer: the training chain,
    * then a fresh assignment + probe list under `cents$KmIters` and the
    * usual exact-cosine rerank of the probed lists' union. */
  private val ivfTrainedTopkOracle = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val nprobe = Similarity.NProbe
    s"""${kmeansChainSqlPrefix(KmIters)},
       |asnf AS (SELECT k_id, list_id FROM (
       |           SELECT k_id, list_id,
       |             row_number() OVER (PARTITION BY k_id
       |               ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |           FROM k CROSS JOIN cents$KmIters) WHERE rn = 1),
       |q AS ($perturbedQCte),
       |pr AS (SELECT q_id, list_id FROM (
       |         SELECT q_id, list_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${cosOf("qv", "cvec")} DESC, list_id) AS rn
       |         FROM q CROSS JOIN cents$KmIters) WHERE rn <= $nprobe),
       |cand AS (SELECT q_id, k_id FROM pr JOIN asnf USING (list_id)
       |         WHERE k_id <> q_id),
       |r AS (SELECT cand.q_id, cand.k_id, $cosSql AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN k ON k.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $AnnK""".stripMargin
  }

  /** MMR selection depth (results emitted per query). */
  private val MmrSel = 5

  /** triplet mining: hard negatives per anchor, band ceiling = the near-dup
    * bar ([[MinCos]]·10⁴ ten-thousandths) — negatives are the hardest
    * vectors that are NOT near-duplicates of the anchor. */
  private val TripNegK = 3
  private val TripNegHiTm: Long = (MinCos * 1e4).toLong

  /** Dual of [[Similarity.mmrTopK]]: integer-quantized relevance and
    * pairwise sims, then the greedy argmax unrolled as [[MmrSel]] chained
    * CTEs (fixed-depth loop → static SQL, the kmeans-chain pattern).
    * Every CTE is MATERIALIZED: the selN chain references each previous
    * step twice (penalty join + anti join), and DuckDB's default inlining
    * would re-execute the whole upstream chain per reference. */
  private def mmrChainSql(candPrefix: String): String = {
    val kvCos =
      "list_dot_product(a.kv, b.kv) / (sqrt(list_dot_product(a.kv, a.kv)) * sqrt(list_dot_product(b.kv, b.kv)))"
    def stepCte(t: Int): String =
      s"""s$t AS MATERIALIZED (SELECT q_id, k_id, score FROM (
         |  SELECT c.q_id, c.k_id, 7 * c.r - 3 * p.m AS score,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY (7 * c.r - 3 * p.m) DESC, c.k_id) AS rn
         |  FROM cand c
         |  JOIN (SELECT ps.q_id, ps.ka, max(ps.s) AS m FROM ps
         |        JOIN sel${t - 1} pv ON ps.q_id = pv.q_id AND ps.kb = pv.k_id
         |        GROUP BY ps.q_id, ps.ka) p
         |    ON p.q_id = c.q_id AND p.ka = c.k_id
         |  LEFT JOIN sel${t - 1} sl ON sl.q_id = c.q_id AND sl.k_id = c.k_id
         |  WHERE sl.k_id IS NULL) WHERE rn = 1),
         |sel$t AS MATERIALIZED (
         |  SELECT q_id, k_id, step, score FROM sel${t - 1}
         |  UNION ALL
         |  SELECT q_id, k_id, CAST($t AS BIGINT) AS step, score FROM s$t)""".stripMargin
    s"""$candPrefix,
       |ps AS MATERIALIZED (SELECT a.q_id, a.k_id AS ka, b.k_id AS kb,
       |        CAST(floor(($kvCos) * 1e4 + 0.5) AS BIGINT) AS s
       |      FROM cand a JOIN cand b
       |        ON a.q_id = b.q_id AND a.k_id <> b.k_id),
       |sel1 AS MATERIALIZED (SELECT q_id, k_id, CAST(1 AS BIGINT) AS step,
       |        7 * r AS score FROM (
       |         SELECT q_id, k_id, r, row_number() OVER (PARTITION BY q_id
       |           ORDER BY r DESC, k_id) AS rn FROM cand) WHERE rn = 1),
       |${(2 to MmrSel).map(stepCte).mkString(",\n")}
       |SELECT f.q_id, f.step, f.k_id, c.r::DOUBLE / 1e4 AS rel, f.score
       |FROM sel$MmrSel f JOIN cand c
       |  ON c.q_id = f.q_id AND c.k_id = f.k_id""".stripMargin
  }

  private val mmrOracle = mmrChainSql(
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $MQ),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |pr AS (SELECT q_id, k_id, kv,
       |         CAST(floor(($cosSql) * 1e4 + 0.5) AS BIGINT) AS r
       |       FROM q CROSS JOIN k WHERE k_id <> q_id),
       |cand AS MATERIALIZED (SELECT q_id, k_id, kv, r FROM (
       |         SELECT q_id, k_id, kv, r,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY r DESC, k_id) AS rank
       |         FROM pr) WHERE rank <= $TopK)""".stripMargin)

  /** Dual of [[Similarity.mmrGain]]: the brute MMR chain minus its final
    * SELECT, then pure-top-sel ids, the two pairwise-redundancy sums, and
    * their difference. */
  private val mmrGainOracle = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def red(ids: String, as: String): String =
      s"""(SELECT p.q_id, CAST(sum(CAST(floor((${cosOf("x.kv", "y.kv")}) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS $as
         | FROM (SELECT a.q_id, a.k_id AS ka, b.k_id AS kb
         |       FROM $ids a JOIN $ids b
         |         ON a.q_id = b.q_id AND a.k_id < b.k_id) p
         | JOIN k x ON x.k_id = p.ka JOIN k y ON y.k_id = p.kb
         | GROUP BY p.q_id)""".stripMargin
    s"""${mmrOracle.substring(0, mmrOracle.lastIndexOf("SELECT"))}
       |, topIds AS (SELECT q_id, k_id FROM (
       |    SELECT q_id, k_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY r DESC, k_id) AS rn FROM cand) WHERE rn <= $MmrSel),
       |mmrIds AS (SELECT q_id, k_id FROM sel$MmrSel),
       |rt AS ${red("topIds", "s_top")},
       |rm AS ${red("mmrIds", "s_mmr")}
       |SELECT rt.q_id, s_top, s_mmr, s_top - s_mmr AS gain
       |FROM rt JOIN rm ON rt.q_id = rm.q_id""".stripMargin
  }

  /** Dual of [[Similarity.tripletMine]]: the same single exchange+sort —
    * full-frame first_value for the positive, then a running conditional
    * count for the band rank (the band excludes the positive itself, so a
    * weak anchor cannot emit itself as a margin-0 negative) — over the
    * brute pair stream. */
  private val tripletsOracle =
    s"""WITH q AS ($perturbedQCte),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |p AS (SELECT q_id, k_id,
       |        CAST(floor(($cosSql) * 1e4 + 0.5) AS BIGINT) AS cos_tm
       |      FROM q CROSS JOIN k),
       |r AS (SELECT q_id, k_id, cos_tm,
       |        first_value(k_id) OVER wf AS pos_id,
       |        first_value(cos_tm) OVER wf AS pos_cos_tm
       |      FROM p
       |      WINDOW wf AS (PARTITION BY q_id ORDER BY cos_tm DESC, k_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |r2 AS (SELECT q_id, k_id, cos_tm, pos_id, pos_cos_tm,
       |        sum(CASE WHEN cos_tm <= $TripNegHiTm AND k_id <> pos_id
       |                 THEN 1 ELSE 0 END)
       |          OVER wr AS neg_rank
       |      FROM r
       |      WINDOW wr AS (PARTITION BY q_id ORDER BY cos_tm DESC, k_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT q_id, CAST(neg_rank AS BIGINT) AS neg_rank, pos_id,
       |  k_id AS neg_id, pos_cos_tm, cos_tm AS neg_cos_tm,
       |  pos_cos_tm - cos_tm AS margin_tm
       |FROM r2 WHERE cos_tm <= $TripNegHiTm AND k_id <> pos_id
       |  AND neg_rank <= $TripNegK""".stripMargin

  /** RETRIEVAL-EVAL MRR (`similar_mrr_eval`): per perturbed query, the
    * rank of its KNOWN source vector in the exact top-[[TopK]] cosine
    * ranking and the reciprocal-rank contribution `10⁶ div rank` (0 on a
    * miss) — the eval metric a retrieval stack reports next to recall@k,
    * here graded exactly because the fixture plants the relevant
    * document (q = perturbed copy of k_id = q_id − [[QOffset]]). Pure
    * integers; misses survive as explicit 0-rows via the left join, so
    * the row set is the query set at any SF. */
  private def mrrEval(s: SparkSession, dir: String): DataFrame = {
    val hits = Similarity
      .cosineTopK(perturbedQSide(s, dir), kvSide(s, dir), TopK)
      .filter(col("k_id") === col("q_id") - QOffset)
      .select(col("q_id"), col("rank").as("src_rank"))
    perturbedQSide(s, dir).select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("src_rank"), lit(0L)).as("src_rank"))
      .withColumn("rr_micro",
        when(col("src_rank") > 0L, expr("1000000L div src_rank"))
          .otherwise(0L))
  }

  private val mrrEvalOracle =
    s"""WITH t AS (${probeBruteSql(TopK)}),
       |q AS ($perturbedQCte),
       |h AS (SELECT q_id, rank FROM t WHERE k_id = q_id - $QOffset)
       |SELECT q.q_id, coalesce(h.rank, 0)::BIGINT AS src_rank,
       |  CASE WHEN h.rank IS NOT NULL THEN CAST(1000000 // h.rank AS BIGINT)
       |       ELSE 0 END AS rr_micro
       |FROM (SELECT q_id FROM q) q LEFT JOIN h USING (q_id)""".stripMargin

  // ---- margin-based bitext mining fixture --------------------------------
  // Two "languages" derived from the fixture: the x side is the raw corpus
  // head; the y side is BtAlignedN deterministic perturbed copies (the
  // "translations" — md5 noise stream `bt:<vec_id>:<d>`, reproduced exactly
  // by the oracle) plus BtDecoyN raw vectors with NO counterpart in x (the
  // unaligned sentences mining must reject). Amplitude 0.35 puts aligned
  // pairs at cos ≈ 0.78 — well under the 0.945 retrieval geometry, so the
  // RATIO margin (not raw cosine) is what separates them from the ~0.5
  // random-neighbor band.
  private val BtSrcN = 128
  private val BtAlignedN = 96
  private val BtDecoyN = 32
  private val BtK = 4
  private val BtAmp = 0.35
  private val BtTauMicro = 1200000L

  private def btXSide(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") < BtSrcN)
      .select(col("vec_id").as("x_id"), col("vec").as("xvec"))

  private def btYSide(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val aligned = e.filter(col("vec_id") < BtAlignedN)
      .select((col("vec_id") + QOffset).as("y_id"),
        transform(col("vec"), (x, d) =>
          x + lit(BtAmp) *
            (VecOps.u01(concat(lit("bt:"), col("vec_id").cast("string"),
              lit(":"), d.cast("string"))) - lit(0.5))).as("yvec"))
    val decoys = e.filter(col("vec_id") >= BtSrcN &&
        col("vec_id") < BtSrcN + BtDecoyN)
      .select((col("vec_id") + QOffset).as("y_id"), col("vec").as("yvec"))
    aligned.union(decoys)
  }

  /** Dual of [[Similarity.mineBitext]] over the same derived sides: the
    * identical window chain — forward rank + forward top-k sum over the
    * x partitioning, backward pair over the y partitioning — with the
    * margin as one integer division of exact BIGINTs. */
  private val bitextOracle = {
    val cosXy =
      "list_dot_product(xv, yv) / (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv)))"
    s"""WITH x AS (SELECT vec_id AS x_id, embedding::DOUBLE[] AS xv
       |           FROM embeddings WHERE vec_id < $BtSrcN),
       |y AS (SELECT vec_id + $QOffset AS y_id,
       |        list_transform(generate_series(0, ${Similarity.Dim - 1}),
       |          d -> vv[d+1] + $BtAmp * (${VecOps.u01Sql("'bt:' || vec_id || ':' || d")} - 0.5)) AS yv
       |      FROM (SELECT vec_id, embedding::DOUBLE[] AS vv
       |            FROM embeddings WHERE vec_id < $BtAlignedN)
       |      UNION ALL
       |      SELECT vec_id + $QOffset, embedding::DOUBLE[]
       |      FROM embeddings
       |      WHERE vec_id >= $BtSrcN AND vec_id < ${BtSrcN + BtDecoyN}),
       |p AS (SELECT x_id, y_id,
       |        CAST(floor(($cosXy) * 1e4 + 0.5) AS BIGINT) AS cos_tm
       |      FROM x CROSS JOIN y),
       |r1 AS (SELECT x_id, y_id, cos_tm,
       |         row_number() OVER (PARTITION BY x_id
       |           ORDER BY cos_tm DESC, y_id) AS fwd_rank
       |       FROM p),
       |r2 AS (SELECT *, sum(CASE WHEN fwd_rank <= $BtK THEN cos_tm
       |                          ELSE 0 END)
       |           OVER (PARTITION BY x_id) AS sx
       |       FROM r1),
       |r3 AS (SELECT *, row_number() OVER (PARTITION BY y_id
       |           ORDER BY cos_tm DESC, x_id) AS bwd_rank
       |       FROM r2),
       |r4 AS (SELECT *, sum(CASE WHEN bwd_rank <= $BtK THEN cos_tm
       |                          ELSE 0 END)
       |           OVER (PARTITION BY y_id) AS sy
       |       FROM r3),
       |m AS (SELECT x_id, y_id, cos_tm,
       |        CAST((${2 * BtK} * 1000000 * cos_tm)
       |             // greatest(sx + sy, 1) AS BIGINT) AS margin_micro
       |      FROM r4 WHERE fwd_rank = 1 AND bwd_rank = 1)
       |SELECT x_id, y_id, cos_tm, margin_micro
       |FROM m WHERE margin_micro >= $BtTauMicro""".stripMargin
  }

  /** Accuracy summary of the mined pair set against the KNOWN alignment
    * (y = x + QOffset for the perturbed copies): exact integer permille
    * precision/recall — the graded claim that margin + mutual-best
    * actually recovers the alignment and rejects the decoys. */
  private val bitextAuditOracle =
    s"""SELECT count(*)::BIGINT AS n_mined,
       |  coalesce(sum(CASE WHEN y_id - $QOffset = x_id THEN 1 ELSE 0 END), 0)::BIGINT AS n_correct,
       |  CAST(1000 * coalesce(sum(CASE WHEN y_id - $QOffset = x_id THEN 1 ELSE 0 END), 0)
       |       // greatest(count(*), 1) AS BIGINT) AS precision_pm,
       |  CAST(1000 * coalesce(sum(CASE WHEN y_id - $QOffset = x_id THEN 1 ELSE 0 END), 0)
       |       // $BtAlignedN AS BIGINT) AS recall_pm
       |FROM ($bitextOracle)""".stripMargin

  private def bitextAudit(mined: DataFrame): DataFrame = {
    val correct = sum(when(col("y_id") - QOffset === col("x_id"), 1L)
      .otherwise(0L))
    mined.agg(count(lit(1)).as("n_mined"),
        coalesce(correct, lit(0L)).as("n_correct"))
      .select(col("n_mined"), col("n_correct"),
        expr("1000L * n_correct div greatest(n_mined, 1L)").as("precision_pm"),
        expr(s"1000L * n_correct div ${BtAlignedN}L").as("recall_pm"))
  }

  /** Dual of [[Similarity.mmrTopKIvf]]: the full IVF search supplies the
    * candidate ids; relevance is re-derived from the PERTURBED query
    * vectors exactly as the rerank does. */
  private val mmrIvfOracle = mmrChainSql(
    s"""WITH ci AS (SELECT q_id, k_id FROM (${ivfTopkSql(AnnK)}) iv),
       |q AS ($perturbedQCte),
       |k AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |cand AS MATERIALIZED (SELECT ci.q_id, ci.k_id, k.kv,
       |         CAST(floor(($cosSql) * 1e4 + 0.5) AS BIGINT) AS r
       |       FROM ci JOIN q ON q.q_id = ci.q_id
       |                 JOIN k ON k.k_id = ci.k_id)""".stripMargin)

  /** Dual of [[Similarity.semanticDedup]]: frozen label-mean quantizer →
    * nearest-cell assignment (raw-cos rank over quantized centroids, the
    * ivf tie-break) → within-cell pairs under the hot-cell star cap →
    * exact cosine ≥ tau edges → recursive-CTE components → keep the
    * member with the LOWEST quantized centroid-cosine (id tie-break). */
  /** The SemDeDup chain downstream of ANY quantizer: `prefix` must be a
    * complete WITH-list (RECURSIVE is injected here) whose `centsName`
    * CTE yields (list_id, cvec); chain CTE names are s-prefixed so they
    * cannot collide with a training prefix's. */
  private def semanticChainSql(prefix: String, centsName: String): String = {
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val cap = Similarity.EmbedBucketCap
    s"""${prefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sk AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
       |sasn AS (SELECT vec_id, vv, list_id, ${VecOps.qroundSql("cc", 4)} AS qc FROM (
       |          SELECT vec_id, vv, list_id, ${cosOf("vv", "cvec")} AS cc,
       |            row_number() OVER (PARTITION BY vec_id
       |              ORDER BY ${cosOf("vv", "cvec")} DESC, list_id) AS rn
       |          FROM sk CROSS JOIN $centsName) WHERE rn = 1),
       |ssized AS (SELECT vec_id, list_id,
       |            count(*) OVER (PARTITION BY list_id) AS bucket_n,
       |            min(vec_id) OVER (PARTITION BY list_id) AS bucket_min
       |          FROM sasn),
       |scand AS (SELECT DISTINCT id_a, id_b FROM (
       |           SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |           FROM ssized a JOIN ssized b
       |             ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |           WHERE a.bucket_n <= $cap
       |           UNION
       |           SELECT bucket_min AS id_a, vec_id AS id_b
       |           FROM ssized WHERE bucket_n > $cap AND vec_id <> bucket_min)),
       |sedges AS (SELECT id_a, id_b
       |          FROM scand JOIN sasn va ON va.vec_id = id_a
       |                    JOIN sasn vb ON vb.vec_id = id_b
       |          WHERE ${cosOf("va.vv", "vb.vv")} >= $SemDedupTau),
       |ssym AS (SELECT id_a AS src, id_b AS dst FROM sedges
       |        UNION ALL
       |        SELECT id_b, id_a FROM sedges),
       |reach(id, label) AS (
       |  SELECT DISTINCT src, src FROM ssym
       |  UNION
       |  SELECT ssym.src, reach.label
       |  FROM ssym JOIN reach ON reach.id = ssym.dst),
       |scmp AS (SELECT id, min(label) AS comp FROM reach GROUP BY id)
       |SELECT scmp.id AS vec_id, scmp.comp, sasn.list_id, sasn.qc,
       |       (row_number() OVER (PARTITION BY scmp.comp
       |          ORDER BY sasn.qc, scmp.id) = 1) AS keep
       |FROM scmp JOIN sasn ON sasn.vec_id = scmp.id""".stripMargin
  }

  private val semanticDedupOracle = semanticChainSql(
    s"""WITH gc0 AS (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |       FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |               unnest(range(len(embedding))) AS i FROM embeddings)
       |       GROUP BY label, i),
       |gcents AS (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |          FROM gc0 GROUP BY label)""".stripMargin,
    "gcents")

  /** Dual of the TRAINED composition: the k-means chain supplies the
    * quantizer, the shared semantic chain does the rest. */
  private val semanticDedupTrainedOracle =
    semanticChainSql(kmeansChainSqlPrefix(KmIters), s"cents$KmIters")

  /** Capped-band dual mirroring [[Similarity.embeddingNearDupPairs]]'s
    * hot-bucket guard (identical output on the skew-free fixtures). */
  private val nearDupOracle = {
    val pairCos =
      "list_dot_product(va.vv, vb.vv) / (sqrt(list_dot_product(va.vv, va.vv)) * sqrt(list_dot_product(vb.vv, vb.vv)))"
    val cap = Similarity.EmbedBucketCap
    s"""WITH v AS (SELECT vec_id, vv, ${Similarity.lshBucketSql("vv", Similarity.P)} AS sig
       |           FROM (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings)),
       |bnd AS (SELECT vec_id, CAST(0 AS BIGINT) AS band, sig & 15 AS key FROM v
       |        UNION ALL
       |        SELECT vec_id, CAST(1 AS BIGINT) AS band, (sig >> 4) & 15 AS key FROM v),
       |sized AS (SELECT vec_id, band, key,
       |            count(*) OVER (PARTITION BY band, key) AS bucket_n,
       |            min(vec_id) OVER (PARTITION BY band, key) AS bucket_min
       |          FROM bnd),
       |cold AS (SELECT * FROM sized WHERE bucket_n <= $cap),
       |cand AS (SELECT DISTINCT id_a, id_b FROM (
       |           SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |           FROM cold a JOIN cold b
       |             ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |           UNION
       |           SELECT bucket_min AS id_a, vec_id AS id_b
       |           FROM sized WHERE bucket_n > $cap AND vec_id <> bucket_min))
       |SELECT id_a, id_b, ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT id_a, id_b, $pairCos AS cos
       |      FROM cand JOIN v va ON va.vec_id = id_a
       |                JOIN v vb ON vb.vec_id = id_b)
       |WHERE cos >= $MinCos""".stripMargin
  }

  /** Per-label centroid of the embedding vectors — the vector-aggregation
    * shape that trains an IVF coarse quantizer (one k-means assignment
    * step under fixed labels). posexplode → groupBy(label, pos) is the
    * scale-safe formulation: partial sums combine map-side per (label,
    * dim), so the shuffle carries labels × dims rows, never the vectors. */
  private def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(VecOps.qround(sum(col("x")) / count(lit(1)), 4).as("c"),
        count(lit(1)).as("n"))

  private val centroidsOracle =
    s"""SELECT label, CAST(i AS BIGINT) AS pos,
       |  ${VecOps.qroundSql("sum(e) / count(*)", 4)} AS c,
       |  count(*) AS n
       |FROM (SELECT label,
       |        unnest(embedding)::DOUBLE AS e,
       |        unnest(range(len(embedding))) AS i
       |      FROM embeddings)
       |GROUP BY label, i""".stripMargin

  /** int8 QUANTIZATION of the embedding column — the storage-compression
    * step before a vector index is persisted (4× smaller than float32;
    * dot products run in integer SIMD). Per-vector symmetric scaling:
    * scale = 127/max|x|, q_d = floor(x_d·scale + ½) ∈ [−127, 127]. Pure
    * per-row expressions, map-only at any corpus size. Cross-engine
    * determinism: the float→double widening is exact, max/divide/multiply
    * run on identical doubles, and the explicit floor(·+½) sidesteps
    * engine-specific round() tie rules; q is integer-exact, the scale is
    * quantized for grading. */
  private def embedQuantize(e: DataFrame): DataFrame = {
    val mx = greatest(array_max(transform(col("vec"), x => abs(x))), lit(1e-12))
    e.select(col("vec_id"), col("vec"), mx.as("mx"))
      .select(col("vec_id"),
        VecOps.qround(lit(127.0) / col("mx"), 6).as("scale_q"),
        posexplode(transform(col("vec"),
          x => floor(x * (lit(127.0) / col("mx")) + lit(0.5)).cast("long"))))
      .select(col("vec_id"), col("scale_q"), col("pos").cast("long").as("d"),
        col("col").as("q"))
  }

  private val embedQuantizeOracle =
    s"""WITH v AS (SELECT vec_id,
       |             list_transform(embedding, x -> x::DOUBLE) AS vec
       |           FROM embeddings),
       |m AS (SELECT vec_id, vec,
       |        greatest(list_max(list_transform(vec, x -> abs(x))), 1e-12) AS mx
       |      FROM v)
       |SELECT vec_id, ${VecOps.qroundSql("127.0 / mx", 6)} AS scale_q,
       |       CAST(i - 1 AS BIGINT) AS d,
       |       CAST(floor(vec[i] * (127.0 / mx) + 0.5) AS BIGINT) AS q
       |FROM m, unnest(generate_series(1, len(vec))) AS u(i)""".stripMargin

  // -------------------------------------------------------------------
  // Product quantization (graft.operators.Pq) oracle duals: codebook cells
  // qrounded before anything reads them, d2 via the dot identity with the
  // same fixed-precedence arithmetic, argmin/rank tie-break on the id, ADC
  // sums explicitly left-assoc (DuckDB SUM order is unspecified — the
  // per-subspace pivot makes the 4-term fold order literal).
  // -------------------------------------------------------------------

  /** shared CTE text: per-subspace codebook + full-corpus PQ encoding.
    * `cbWhere` restricts the codebook's TRAINING corpus (the frozen-
    * quantizer ingest oracle trains on the existing side only); `jExpr`
    * is the codebook-seed expression (`label` for the K=10 paths,
    * `vec_id % 256` for the production-shape large-K path). */
  private def pqEncCtes(cbWhere: String = "", jExpr: String = "label") = {
    val s = Pq.S
    def sub(v: String) = s"list_slice($v, cb.m*$s + 1, cb.m*$s + $s)"
    s"""cell AS (SELECT label AS j, i AS pos, ${VecOps.qroundSql("sum(e) / count(*)", 4)} AS c
       |         FROM (SELECT $jExpr AS label, unnest(embedding)::DOUBLE AS e,
       |                 unnest(range(len(embedding))) AS i FROM embeddings$cbWhere)
       |         GROUP BY label, i),
       |cb AS (SELECT pos // $s AS m, j, list(c ORDER BY pos) AS cv
       |       FROM cell GROUP BY 1, 2),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
       |scdist AS (SELECT v.vec_id, cb.m, cb.j,
       |             list_dot_product(${sub("v.vec")}, ${sub("v.vec")})
       |               - 2.0 * list_dot_product(${sub("v.vec")}, cb.cv)
       |               + list_dot_product(cb.cv, cb.cv) AS d2
       |           FROM v CROSS JOIN cb),
       |enc AS (SELECT vec_id, m, j AS code, d2,
       |          row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
       |        FROM scdist)""".stripMargin
  }

  /** Training iterations graded by `pq_train`/`similar_pq_trained` —
    * matches [[Pq.pqTrain]]'s composition depth. */
  private val PqIters = 3

  /** Per-subspace codebook-training chain: seed codebook (label means,
    * the [[pqEncCtes]] cell/cb text), the (vec_id, m, subvector) table,
    * then per iteration an argmin assignment under cb{i-1} and a
    * per-(m, code, position) re-mean — the SQL dual of [[Pq.pqTrain]].
    * Distances use the same left-assoc x·x − 2·x·c + c·c and tie-break
    * on j; re-means are 4-decimal quantized before the next iteration
    * reads them, so every iteration's argmin is hash-stable. */
  private def pqChainSqlPrefix(iters: Int): String = {
    val s = Pq.S
    val sb = new StringBuilder
    sb ++= s"""WITH cell0 AS (SELECT label AS j, i AS pos, ${VecOps.qroundSql("sum(e) / count(*)", 4)} AS c
       |           FROM (SELECT label, unnest(embedding)::DOUBLE AS e,
       |                   unnest(range(len(embedding))) AS i FROM embeddings)
       |           GROUP BY label, i),
       |cb0 AS (SELECT pos // $s AS m, j, list(c ORDER BY pos) AS cv
       |        FROM cell0 GROUP BY 1, 2),
       |subs AS (SELECT vec_id, mm.m,
       |           list_slice(embedding::DOUBLE[], mm.m*$s + 1, mm.m*$s + $s) AS sv
       |         FROM embeddings
       |         CROSS JOIN (SELECT unnest(range(${Pq.M})) AS m) mm)""".stripMargin
    for (i <- 1 to iters) sb ++= s""",
       |scd$i AS (SELECT subs.vec_id, subs.m, cb.j,
       |            list_dot_product(subs.sv, subs.sv)
       |              - 2.0 * list_dot_product(subs.sv, cb.cv)
       |              + list_dot_product(cb.cv, cb.cv) AS d2
       |          FROM subs JOIN cb${i - 1} cb ON cb.m = subs.m),
       |asn$i AS (SELECT vec_id, m, j AS code FROM (
       |            SELECT vec_id, m, j,
       |              row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
       |            FROM scd$i) WHERE rn = 1),
       |st$i AS (SELECT m, code, sp, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c,
       |           count(*) AS n
       |         FROM (SELECT subs.m, a.code, unnest(subs.sv)::DOUBLE AS x,
       |                 unnest(range(len(subs.sv))) AS sp
       |               FROM asn$i a
       |               JOIN subs ON subs.vec_id = a.vec_id AND subs.m = a.m)
       |         GROUP BY m, code, sp),
       |cb$i AS (SELECT m, code AS j, list(c ORDER BY sp) AS cv
       |         FROM st$i GROUP BY m, code)""".stripMargin
    sb.toString
  }

  /** Dual of the composed codebook trainer: the LAST iteration's re-mean. */
  private val pqTrainOracle =
    s"""${pqChainSqlPrefix(PqIters)}
       |SELECT CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
       |       CAST(sp AS BIGINT) AS sp, c, n
       |FROM st$PqIters""".stripMargin

  /** Dual of ADC search through the TRAINED codebook: the training chain,
    * a fresh encoding under cb$PqIters, then the usual LUT-join ADC rank
    * and exact-cosine rerank ([[pqTopkSql]]'s shape under the trained
    * quantizer). */
  private lazy val pqTrainedTopkOracle = {
    val s = Pq.S
    val it = PqIters
    def piv(src: String, alias: String) =
      s"(((max(CASE WHEN e.m = 0 THEN $src END) + max(CASE WHEN e.m = 1 THEN $src END))" +
        s" + max(CASE WHEN e.m = 2 THEN $src END)) + max(CASE WHEN e.m = 3 THEN $src END)) AS $alias"
    s"""${pqChainSqlPrefix(it)},
       |scdf AS (SELECT subs.vec_id, subs.m, cb.j,
       |           list_dot_product(subs.sv, subs.sv)
       |             - 2.0 * list_dot_product(subs.sv, cb.cv)
       |             + list_dot_product(cb.cv, cb.cv) AS d2
       |         FROM subs JOIN cb$it cb ON cb.m = subs.m),
       |enc AS (SELECT vec_id, m, j AS code FROM (
       |          SELECT vec_id, m, j,
       |            row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
       |          FROM scdf) WHERE rn = 1),
       |q AS ($pqStdQCte),
       |kk AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |lut AS (SELECT q.q_id, cb.m, cb.j,
       |          list_dot_product(list_slice(q.qv, cb.m*$s + 1, cb.m*$s + $s), cb.cv) AS ip,
       |          list_dot_product(cb.cv, cb.cv) AS nn
       |        FROM q CROSS JOIN cb$it cb),
       |qn AS (SELECT q_id, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
       |sc2 AS (SELECT l.q_id, e.vec_id AS k_id,
       |          ${piv("l.ip", "aip")},
       |          ${piv("l.nn", "an2")}
       |        FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.code
       |        GROUP BY l.q_id, e.vec_id),
       |cand AS (SELECT q_id, k_id FROM (
       |           SELECT sc2.q_id, sc2.k_id,
       |             row_number() OVER (PARTITION BY sc2.q_id
       |               ORDER BY sc2.aip / (qn.qn * sqrt(sc2.an2)) DESC, sc2.k_id) AS rnk
       |           FROM sc2 JOIN qn USING (q_id) WHERE sc2.k_id <> sc2.q_id)
       |         WHERE rnk <= ${Pq.RerankC}),
       |r AS (SELECT cand.q_id, cand.k_id,
       |        list_dot_product(q.qv, kk.kv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(kk.kv, kk.kv))) AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN kk ON kk.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $TopK""".stripMargin
  }

  private val pqCodesOracle =
    s"""WITH ${pqEncCtes()}
       |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
       |       ${VecOps.qroundSql("d2", 4)} AS err2
       |FROM enc WHERE rn = 1""".stripMargin

  /** ADC search dual, parameterized on the query CTE (standard or
    * perturbed): LUT join on (m, code), 4-term pivot sums, approximate
    * cosine rank → top-C candidates → exact-cosine rerank top-k. */
  private def pqTopkSql(k: Int, qCte: String, jExpr: String = "label") = {
    val s = Pq.S
    def piv(src: String, alias: String) =
      s"(((max(CASE WHEN e.m = 0 THEN $src END) + max(CASE WHEN e.m = 1 THEN $src END))" +
        s" + max(CASE WHEN e.m = 2 THEN $src END)) + max(CASE WHEN e.m = 3 THEN $src END)) AS $alias"
    s"""WITH ${pqEncCtes(jExpr = jExpr)},
       |q AS ($qCte),
       |kk AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |lut AS (SELECT q.q_id, cb.m, cb.j,
       |          list_dot_product(list_slice(q.qv, cb.m*$s + 1, cb.m*$s + $s), cb.cv) AS ip,
       |          list_dot_product(cb.cv, cb.cv) AS nn
       |        FROM q CROSS JOIN cb),
       |qn AS (SELECT q_id, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
       |sc2 AS (SELECT l.q_id, e.vec_id AS k_id,
       |          ${piv("l.ip", "aip")},
       |          ${piv("l.nn", "an2")}
       |        FROM (SELECT vec_id, m, code FROM enc WHERE rn = 1) e
       |        JOIN lut l ON l.m = e.m AND l.j = e.code
       |        GROUP BY l.q_id, e.vec_id),
       |cand AS (SELECT q_id, k_id FROM (
       |           SELECT sc2.q_id, sc2.k_id,
       |             row_number() OVER (PARTITION BY sc2.q_id
       |               ORDER BY sc2.aip / (qn.qn * sqrt(sc2.an2)) DESC, sc2.k_id) AS rnk
       |           FROM sc2 JOIN qn USING (q_id) WHERE sc2.k_id <> sc2.q_id)
       |         WHERE rnk <= ${Pq.RerankC}),
       |r AS (SELECT cand.q_id, cand.k_id,
       |        list_dot_product(q.qv, kk.kv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(kk.kv, kk.kv))) AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN kk ON kk.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $k""".stripMargin
  }

  private val pqStdQCte =
    s"SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $MQ"

  /** IVF×PQ dual: the PQ encoding CTEs + the IVF centroid/assignment/probe
    * CTEs, with the ADC scan's pair set restricted to (query, probed-list)
    * matches before scoring — the oracle of the composed index. */
  private def ivfPqTopkSql(k: Int, qCte: String, centWhere: String = "",
                           cbWhere: String = "") = {
    val s = Pq.S
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def piv(src: String, alias: String) =
      s"(((max(CASE WHEN e.m = 0 THEN $src END) + max(CASE WHEN e.m = 1 THEN $src END))" +
        s" + max(CASE WHEN e.m = 2 THEN $src END)) + max(CASE WHEN e.m = 3 THEN $src END)) AS $alias"
    s"""WITH ${pqEncCtes(cbWhere)},
       |c0i AS (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |        FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |                unnest(range(len(embedding))) AS i FROM embeddings$centWhere)
       |        GROUP BY label, i),
       |centsi AS (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |           FROM c0i GROUP BY label),
       |kk AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |asn AS (SELECT k_id, list_id FROM (
       |          SELECT k_id, list_id,
       |            row_number() OVER (PARTITION BY k_id
       |              ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |          FROM kk CROSS JOIN centsi) WHERE rn = 1),
       |q AS ($qCte),
       |pr AS (SELECT q_id, list_id FROM (
       |         SELECT q_id, list_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${cosOf("qv", "cvec")} DESC, list_id) AS rn
       |         FROM q CROSS JOIN centsi) WHERE rn <= ${Similarity.NProbe}),
       |lut AS (SELECT q.q_id, cb.m, cb.j,
       |          list_dot_product(list_slice(q.qv, cb.m*$s + 1, cb.m*$s + $s), cb.cv) AS ip,
       |          list_dot_product(cb.cv, cb.cv) AS nn
       |        FROM q CROSS JOIN cb),
       |qn AS (SELECT q_id, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
       |sc2 AS (SELECT l.q_id, e.vec_id AS k_id,
       |          ${piv("l.ip", "aip")},
       |          ${piv("l.nn", "an2")}
       |        FROM (SELECT vec_id, m, code FROM enc WHERE rn = 1) e
       |        JOIN asn ON asn.k_id = e.vec_id
       |        JOIN lut l ON l.m = e.m AND l.j = e.code
       |        JOIN pr ON pr.q_id = l.q_id AND pr.list_id = asn.list_id
       |        GROUP BY l.q_id, e.vec_id),
       |cand AS (SELECT q_id, k_id FROM (
       |           SELECT sc2.q_id, sc2.k_id,
       |             row_number() OVER (PARTITION BY sc2.q_id
       |               ORDER BY sc2.aip / (qn.qn * sqrt(sc2.an2)) DESC, sc2.k_id) AS rnk
       |           FROM sc2 JOIN qn USING (q_id) WHERE sc2.k_id <> sc2.q_id)
       |         WHERE rnk <= ${Pq.RerankC}),
       |r AS (SELECT cand.q_id, cand.k_id,
       |        ${cosOf("q.qv", "kk.kv")} AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN kk ON kk.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $k""".stripMargin
  }

  /** RESIDUAL IVF×PQ dual: residuals against the qrounded coarse
    * centroids, a k_id%K-seeded residual codebook, per-probed-list query
    * LUTs, squared-L2 ADC ranked ascending, exact rerank. Arithmetic
    * mirrors graft.operators.Pq.ivfPqResTopK op for op. */
  private def ivfPqResTopkSql(k: Int, qCte: String) = {
    val s = Pq.S
    val kk = Pq.ResK
    def cosOf(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def piv(src: String, alias: String) =
      s"(((max(CASE WHEN e.m = 0 THEN $src END) + max(CASE WHEN e.m = 1 THEN $src END))" +
        s" + max(CASE WHEN e.m = 2 THEN $src END)) + max(CASE WHEN e.m = 3 THEN $src END)) AS $alias"
    s"""WITH c0i AS (SELECT label, i, ${VecOps.qroundSql("sum(x) / count(*)", 4)} AS c
       |             FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
       |                     unnest(range(len(embedding))) AS i FROM embeddings)
       |             GROUP BY label, i),
       |centsi AS (SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS cvec
       |           FROM c0i GROUP BY label),
       |kvt AS (SELECT vec_id AS k_id, embedding::DOUBLE[] AS kv FROM embeddings),
       |asn AS (SELECT k_id, list_id FROM (
       |          SELECT k_id, list_id,
       |            row_number() OVER (PARTITION BY k_id
       |              ORDER BY ${cosOf("kv", "cvec")} DESC, list_id) AS rn
       |          FROM kvt CROSS JOIN centsi) WHERE rn = 1),
       |res AS (SELECT asn.k_id, asn.list_id,
       |          list_transform(generate_series(1, ${Similarity.Dim}),
       |            i -> kvt.kv[i] - centsi.cvec[i]) AS rv
       |        FROM asn JOIN kvt USING (k_id) JOIN centsi USING (list_id)),
       |rcell AS (SELECT k_id % $kk AS j, i AS pos,
       |            ${VecOps.qroundSql("sum(e) / count(*)", 4)} AS c
       |          FROM (SELECT k_id, unnest(rv)::DOUBLE AS e,
       |                  unnest(range(len(rv))) AS i FROM res)
       |          GROUP BY j, i),
       |rcb AS (SELECT pos // $s AS m, j, list(c ORDER BY pos) AS cv
       |        FROM rcell GROUP BY 1, 2),
       |renc AS (SELECT k_id, m, j AS code FROM (
       |           SELECT res.k_id, rcb.m, rcb.j,
       |             row_number() OVER (PARTITION BY res.k_id, rcb.m ORDER BY
       |               list_dot_product(list_slice(res.rv, rcb.m*$s + 1, rcb.m*$s + $s),
       |                                list_slice(res.rv, rcb.m*$s + 1, rcb.m*$s + $s))
       |                 - 2.0 * list_dot_product(list_slice(res.rv, rcb.m*$s + 1, rcb.m*$s + $s), rcb.cv)
       |                 + list_dot_product(rcb.cv, rcb.cv), rcb.j) AS rn
       |           FROM res CROSS JOIN rcb) WHERE rn = 1),
       |q AS ($qCte),
       |pr AS (SELECT q_id, list_id FROM (
       |         SELECT q_id, list_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${cosOf("qv", "cvec")} DESC, list_id) AS rn
       |         FROM q CROSS JOIN centsi) WHERE rn <= ${Similarity.NProbe}),
       |qres AS (SELECT pr.q_id, pr.list_id,
       |           list_transform(generate_series(1, ${Similarity.Dim}),
       |             i -> q.qv[i] - centsi.cvec[i]) AS qrv
       |         FROM pr JOIN q USING (q_id) JOIN centsi USING (list_id)),
       |rlut AS (SELECT q_id, list_id, rcb.m, rcb.j,
       |           list_dot_product(list_slice(qrv, rcb.m*$s + 1, rcb.m*$s + $s), rcb.cv) AS ip,
       |           list_dot_product(rcb.cv, rcb.cv) AS nn
       |         FROM qres CROSS JOIN rcb),
       |qn2 AS (SELECT q_id, list_id, list_dot_product(qrv, qrv) AS qn2 FROM qres),
       |sc2 AS (SELECT l.q_id, e.k_id, l.list_id,
       |          ${piv("l.ip", "aip")},
       |          ${piv("l.nn", "an2")}
       |        FROM renc e
       |        JOIN asn a ON a.k_id = e.k_id
       |        JOIN rlut l ON l.m = e.m AND l.j = e.code AND l.list_id = a.list_id
       |        GROUP BY l.q_id, e.k_id, l.list_id),
       |cand AS (SELECT q_id, k_id FROM (
       |           SELECT sc2.q_id, sc2.k_id,
       |             row_number() OVER (PARTITION BY sc2.q_id
       |               ORDER BY qn2.qn2 - 2.0 * sc2.aip + sc2.an2, sc2.k_id) AS rnk
       |           FROM sc2 JOIN qn2 ON qn2.q_id = sc2.q_id AND qn2.list_id = sc2.list_id
       |           WHERE sc2.k_id <> sc2.q_id)
       |         WHERE rnk <= ${Pq.RerankC}),
       |r AS (SELECT cand.q_id, cand.k_id,
       |        ${cosOf("q.qv", "kvt.kv")} AS cos
       |      FROM cand JOIN q ON q.q_id = cand.q_id JOIN kvt ON kvt.k_id = cand.k_id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, k_id,
       |       ${VecOps.qroundSql("cos", 4)} AS cos
       |FROM (SELECT q_id, k_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, k_id) AS rank
       |      FROM r)
       |WHERE rank <= $k""".stripMargin
  }

  private val ivfPqResRecallOracle =
    s"""WITH brute AS (SELECT * FROM (${probeBruteSql(1)}) tb),
       |rpq AS (SELECT * FROM (${ivfPqResTopkSql(1, perturbedQCte)}) tp),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN rpq ON brute.q_id = rpq.q_id AND brute.k_id = rpq.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  private val ivfPqRecallOracle =
    s"""WITH brute AS (SELECT * FROM (${probeBruteSql(1)}) tb),
       |ipq AS (SELECT * FROM (${ivfPqTopkSql(1, perturbedQCte)}) tp),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN ipq ON brute.q_id = ipq.q_id AND brute.k_id = ipq.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  private def pqRecallOracleFor(jExpr: String) =
    s"""WITH brute AS (SELECT * FROM (${probeBruteSql(1)}) tb),
       |pq AS (SELECT * FROM (${pqTopkSql(1, perturbedQCte, jExpr)}) tp),
       |hits AS (SELECT brute.q_id, count(*) AS n_hit
       |         FROM brute JOIN pq ON brute.q_id = pq.q_id AND brute.k_id = pq.k_id
       |         GROUP BY brute.q_id),
       |n AS (SELECT q_id, count(*) AS n FROM brute GROUP BY q_id)
       |SELECT n.q_id,
       |       ${VecOps.qroundSql("COALESCE(n_hit, 0)::DOUBLE / n.n::DOUBLE", 4)} AS recall
       |FROM n LEFT JOIN hits ON hits.q_id = n.q_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GeMM-as-MapReduce over the corpus matrix itself: the Gram matrix
    // XᵀX (PCA/whitening input) and one power-iteration step toward the
    // top eigenvector — see graft.operators.EmbedStats
    "embed_gram" -> ((s, dir) =>
      graft.operators.EmbedStats.gram(
        emb(s, dir).select(col("vec")), Similarity.Dim)),
    "embed_power" -> ((s, dir) =>
      graft.operators.EmbedStats.powerStep(emb(s, dir).select(col("vec")))),
    // the COMPOSED trainer: 3 power-iteration rounds with the direction
    // re-quantized and re-inlined between rounds (collect-requantize)
    "embed_power_train" -> ((s, dir) => {
      val (c1, _) = powerChainsMemo(s, dir)
      graft.operators.EmbedStats.powerTrainFrom(
        emb(s, dir).select(col("vec")), c1(PowerIters - 2))
    }),
    // CONVERGENCE-GATED power iteration: stop when the quantized
    // direction's max per-dim movement < PowerConvEps grid units — an
    // integer compare on state the protocol already collects; fires at
    // round 5 / 4 / 3 at sf0.001 / 0.01 / 0.1
    "embed_power_conv" -> ((s, dir) =>
      graft.operators.EmbedStats.powerTrainConverged(
        emb(s, dir).select(col("vec")), PowerConvEps, PowerConvMax)),
    // SECOND principal direction via integer-exact deflation: remove the
    // trained v1 component per row, retrain on the deflated matrix,
    // grade the new direction + its Rayleigh quotient + orthogonality
    "embed_power_deflate" -> ((s, dir) => {
      val (c1, c2) = powerChainsMemo(s, dir)
      graft.operators.EmbedStats.powerDeflateFrom(
        emb(s, dir).select(col("vec")),
        c1(PowerIters - 1), c2(PowerIters - 2), c2(PowerIters - 1))
    }),
    // PCA apply: every embedding's exact-BIGINT coordinates on the two
    // trained spectral directions (the trainer family's apply step)
    "embed_project" -> ((s, dir) => {
      val (c1, c2) = powerChainsMemo(s, dir)
      graft.operators.EmbedStats.projectTop2From(
        emb(s, dir).select(col("vec_id"), col("vec")),
        c1(PowerIters - 1), c2(PowerIters - 1))
    }),
    "embed_centroids" -> ((s, dir) => centroids(emb(s, dir))),
    "embed_quantize" -> ((s, dir) => embedQuantize(emb(s, dir))),
    "similar_topk" -> ((s, dir) =>
      Similarity.cosineTopK(qSide(s, dir), kvSide(s, dir), TopK)),
    "similar_ann" -> ((s, dir) =>
      Similarity.annTopK(qSide(s, dir), kvSide(s, dir), AnnK)),
    "similar_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(qSide(s, dir), kvSide(s, dir), AnnK)),
    "similar_ann_probe" -> ((s, dir) =>
      Similarity.annTopKProbed(perturbedQSide(s, dir), kvSide(s, dir), AnnK)),
    "similar_ann_probe_recall" -> ((s, dir) =>
      Similarity.annProbeRecall(perturbedQSide(s, dir), kvSide(s, dir), 1)),
    "similar_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), AnnK)),
    "similar_ivf_recall" -> ((s, dir) =>
      Similarity.ivfRecall(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), 1)),
    // the same search through a parquet index PARTITIONED BY list_id —
    // grades the persisted-layout round trip (pruned scan, same answer)
    "similar_ivf_pruned" -> ((s, dir) =>
      Similarity.ivfTopKPersisted(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), AnnK)),
    // incremental ingest (VERDICT r5 #4): quantizer trained on the even-id
    // corpus only, persisted; the odd-id batch is assigned map-only against
    // those FROZEN centroids (localCheckpoint truncates the aggregation
    // out of the ingest plan) and appended; the search covers old ∪ batch
    // the SAME ingest at ARRIVAL TIME: embedding batches land as files,
    // each micro-batch is assigned against the frozen quantizer and
    // appended as an idempotent batch=<id> delta partition; the search
    // over the full streamed-in index grades against the identical
    // from-scratch oracle (the ANN twin of docs_ingest_stream)
    "embeds_ingest_stream" -> ((s, dir) =>
      graft.streaming.StreamingOps.ivfIngestStream(s, dir,
        perturbedQSide(s, dir), AnnK)),
    // the SERVE mirror: frozen persisted index, STREAMING query batches;
    // appended per-batch answers union to exactly the batch search
    "similar_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamingOps.ivfServeStream(s, dir,
        perturbedQSide(s, dir), AnnK)),
    "similar_ivf_ingest" -> ((s, dir) => {
      val all = emb(s, dir)
      val cents = Similarity
        .ivfCentroids(all.filter(col("vec_id") % 2 === 0))
        .localCheckpoint(true)
      def side(parity: Int) = all.filter(col("vec_id") % 2 === parity)
        .select(col("vec_id").as("k_id"), col("vec").as("kvec"))
      Similarity.ivfTopKIngested(perturbedQSide(s, dir),
        side(0), side(1), cents, AnnK)
    }),
    // index RETRACTION (the takedown inverse of similar_ivf_ingest): a
    // vec_id batch removed from the persisted index via a TOMBSTONE side
    // table — no index rewrite, read-side anti-join — and the search over
    // the survivors graded against the from-scratch oracle on corpus∖batch
    // (exact, since the quantizer is frozen and assignment is per-row)
    "similar_ivf_retract" -> ((s, dir) => {
      val all = emb(s, dir)
      Similarity.ivfTopKRetracted(perturbedQSide(s, dir), kvSide(s, dir),
        all.filter(col("vec_id") % 16 === 0).select(col("vec_id").as("k_id")),
        Similarity.ivfCentroids(all).localCheckpoint(true), AnnK)
    }),
    // one full k-means iteration (re-assign + recompute means) — the IVF
    // quantizer's training loop, graded
    "kmeans_step" -> ((s, dir) =>
      Similarity.kmeansStep(kvSide(s, dir),
        ivfCentsMemo(s, dir))),
    // the training LOOP, composed (VERDICT r6 #2): three full
    // re-assign/re-mean iterations from the label seed — grades the third
    // iteration's step output, i.e. the whole chain (the quantizer twin of
    // bpe_step2's trainer-loop composition proof)
    "kmeans_train" -> ((s, dir) =>
      Similarity.kmeansTrain(kvSide(s, dir),
        ivfCentsMemo(s, dir), 3)),
    // k-means topic clusters labeled by their top-3 in-cluster tokens:
    // the trained quantizer meets the lexical surface in one result
    "docs_topics" -> (docsTopics _),
    // the CONVERGENCE-GATED trainer: iterate until max centroid movement
    // < eps (exact on the quantized grid), emit (iters, final step) — the
    // loop terminates by criterion, not by count (VERDICT r7 #5)
    "kmeans_train_conv" -> ((s, dir) =>
      Similarity.kmeansTrainConverged(kvSide(s, dir),
        ivfCentsMemo(s, dir), KmConvEps, KmConvMax)),
    // ...and the index BUILT FROM the trained quantizer, searched: the
    // full train -> build -> search pipeline as one graded query
    "similar_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTopK(perturbedQSide(s, dir), kvSide(s, dir),
        Similarity.kmeansTrainedCentroids(kvSide(s, dir),
          ivfCentsMemo(s, dir), 3), AnnK)),
    // PRODUCT QUANTIZATION (graft.operators.Pq): per-subspace codebook
    // encoding (the 128x index-footprint cut) and the ADC search over the
    // codes table — approximate-score candidates, exact-cosine rerank;
    // recall measured on the strong-neighbor perturbed-copy set
    "embed_pq_codes" -> ((s, dir) =>
      Pq.encode(
        emb(s, dir).select(col("vec_id").as("k_id"), col("vec").as("kvec")),
        pqCbMemo(s, dir))
        .withColumnRenamed("k_id", "vec_id")),
    "similar_pq" -> ((s, dir) =>
      Pq.adcTopK(qSide(s, dir), kvSide(s, dir),
        pqCbMemo(s, dir), TopK)),
    // codebook TRAINING to a fixed iteration count (the fine-quantizer
    // twin of kmeans_train), and search through the trained codebook
    "pq_train" -> ((s, dir) => pqStepMemo(s, dir)),
    "similar_pq_trained" -> ((s, dir) =>
      Pq.adcTopK(qSide(s, dir), kvSide(s, dir),
        Pq.codebookFromStep(pqStepMemo(s, dir)), TopK)),
    "similar_pq_recall" -> ((s, dir) =>
      Pq.adcRecall(perturbedQSide(s, dir), kvSide(s, dir),
        pqCbMemo(s, dir), 1)),
    // LARGE-K PQ (K=256 per subspace, 8-bit codes — the FAISS production
    // shape): the codebook is a broadcast RELATION, every stage a
    // broadcast hash join against it; plan size independent of K
    "similar_pq_k256" -> ((s, dir) =>
      Pq.adcTopKJoin(qSide(s, dir), kvSide(s, dir),
        Pq.codebookBig(emb(s, dir)), TopK)),
    "similar_pq_k256_recall" -> ((s, dir) =>
      Pq.adcRecallJoin(perturbedQSide(s, dir), kvSide(s, dir),
        Pq.codebookBig(emb(s, dir)), 1)),
    // IVF x PQ: coarse-quantizer probe restriction + ADC scan of only the
    // probed lists' codes + exact rerank -- the FAISS-IVFPQ-shaped
    // deployable index (partition-pruned scan of 1/128th-size code rows)
    "similar_ivfpq" -> ((s, dir) =>
      Pq.ivfAdcTopK(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), pqCbMemo(s, dir), AnnK)),
    "similar_ivfpq_recall" -> ((s, dir) =>
      Pq.ivfAdcRecall(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), pqCbMemo(s, dir), 1)),
    // the same search through the persisted (k_id, codes) layout
    // PARTITIONED BY list_id -- grades the code-index round trip
    "similar_ivfpq_pruned" -> ((s, dir) =>
      Pq.ivfAdcTopKPersisted(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), pqCbMemo(s, dir), AnnK)),
    // RESIDUAL IVFxPQ (the faithful FAISS formulation): PQ over
    // x - c_list residuals, per-probed-list query LUTs, L2 ADC ranking
    "similar_ivfpq_res" -> ((s, dir) =>
      Pq.ivfPqResTopK(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), AnnK)),
    "similar_ivfpq_res_recall" -> ((s, dir) =>
      Pq.ivfPqResRecall(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), 1)),
    // incremental PQ-index ingest: the odd-id batch encoded + assigned
    // against quantizers FROZEN on the even-id corpus, appended to the
    // partitioned code layout, searched over old-union-batch
    "similar_ivfpq_ingest" -> ((s, dir) => {
      val all = emb(s, dir)
      val even = all.filter(col("vec_id") % 2 === 0)
      val cents = Similarity.ivfCentroids(even).localCheckpoint(true)
      def side(parity: Int) = all.filter(col("vec_id") % 2 === parity)
        .select(col("vec_id").as("k_id"), col("vec").as("kvec"))
      Pq.ivfAdcTopKIngested(perturbedQSide(s, dir), side(0), side(1),
        cents, Pq.codebook(even), AnnK)
    }),
    "dedup_embed" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(
        emb(s, dir).select(col("vec_id"), col("vec")), MinCos)),
    // SemDeDup: within-Voronoi-cell duplicate components, keep the
    // farthest-from-centroid member (Abbas et al. 2023)
    "dedup_semantic" -> ((s, dir) => semanticMemo(s, dir)),
    // the paper's full recipe: the quantizer is TRAINED k-means, not
    // label means — the same semantic chain under cents from kmeansTrain
    "dedup_semantic_trained" -> ((s, dir) =>
      Similarity.semanticDedupWith(emb(s, dir),
        trainedCentsMemo(s, dir), SemDedupTau)),
    // MMR diversified rerank of the exact top-k (integer-exact greedy)
    "similar_mmr" -> ((s, dir) =>
      Similarity.mmrTopK(qSide(s, dir), kvSide(s, dir), TopK, MmrSel)),
    // the same rerank over the IVF front-end's candidates — the 100 TB
    // composition (probed lists in, diversified answers out)
    "similar_mmr_ivf" -> ((s, dir) =>
      Similarity.mmrTopKIvf(perturbedQSide(s, dir), kvSide(s, dir),
        ivfCentsMemo(s, dir), AnnK, MmrSel)),
    // the measured diversity gain: per query, intra-list redundancy of
    // pure-relevance top-sel vs the MMR selection (exact integer sums)
    "similar_mmr_gain" -> ((s, dir) =>
      Similarity.mmrGain(qSide(s, dir), kvSide(s, dir), TopK, MmrSel)),
    // contrastive triplet mining: anchor = perturbed query, positive =
    // retrieval rank-1 (the source vector), hard negatives = top-k in the
    // sub-near-dup cosine band, with the triplet-loss margin
    "embed_triplets" -> ((s, dir) =>
      Similarity.tripletMine(perturbedQSide(s, dir), kvSide(s, dir),
        TripNegK, TripNegHiTm)),
    // the SemDeDup KEPT corpus (the dedup_corpus composition applied to
    // the semantic drop list): per-label survivor counts after anti-
    // joining the non-representative members out
    "dedup_corpus_semantic" -> ((s, dir) => {
      // drop list projected from the shared session pass; NO broadcast
      // hint — on a dup-heavy corpus the non-representative list is
      // O(corpus), so AQE must be free to pick a shuffled anti-join
      // (VERDICT r12 #2: the hint was the 100 TB OOM)
      val drop = semanticMemo(s, dir)
        .filter(!col("keep")).select(col("vec_id"))
      emb(s, dir).join(drop, Seq("vec_id"), "left_anti")
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_kept"))
    }),
    // margin-based bitext mining (mutual-best + ratio margin) over the
    // derived two-language sides: recovers the planted alignment,
    // rejects the unaligned decoys
    // retrieval-eval MRR against the planted sources (exact integers)
    "similar_mrr_eval" -> ((s, dir) => mrrEval(s, dir)),
    "mine_bitext" -> ((s, dir) =>
      Similarity.mineBitext(btXSide(s, dir), btYSide(s, dir),
        BtK, BtTauMicro)),
    // the graded accuracy of the mined set vs the known alignment
    "mine_bitext_audit" -> ((s, dir) =>
      bitextAudit(Similarity.mineBitext(btXSide(s, dir), btYSide(s, dir),
        BtK, BtTauMicro))),
    // embedding-space decontamination: the drop list of train vectors
    // within cos >= tau of any (perturbed) eval vector — semantic leakage
    // the token-shingle decontaminate can't see
    "decontaminate_embed" -> ((s, dir) =>
      Similarity.embedDecontaminate(
        perturbedQSide(s, dir), kvSide(s, dir), EmbedDecontamTau))
  )

  val oracles: Map[String, String] = Map(
    "embed_gram" -> graft.operators.EmbedStats.gramOracleSql,
    "embed_power" -> graft.operators.EmbedStats.powerOracleSql,
    "embed_power_train" ->
      graft.operators.EmbedStats.powerTrainOracleSql(PowerIters),
    "embed_power_conv" ->
      graft.operators.EmbedStats.powerTrainConvOracleSql(
        PowerConvEps, PowerConvMax),
    "embed_power_deflate" ->
      graft.operators.EmbedStats.powerDeflateOracleSql(PowerIters),
    "embed_project" ->
      graft.operators.EmbedStats.projectTop2OracleSql(PowerIters),
    "embed_centroids" -> centroidsOracle,
    "embed_quantize" -> embedQuantizeOracle,
    "similar_topk" -> topkOracle,
    "similar_ann" -> annOracle,
    "similar_ann_recall" -> annRecallOracle,
    "similar_ann_probe" -> probeTopkSql(AnnK),
    "similar_ann_probe_recall" -> probeRecallOracle,
    "similar_ivf" -> ivfTopkSql(AnnK),
    "similar_serve_stream" -> ivfTopkSql(AnnK),
    "similar_ivf_recall" -> ivfRecallOracle,
    "similar_ivf_pruned" -> ivfTopkSql(AnnK),
    // from-scratch oracle for the ingest path: identical result must come
    // out of (frozen even-corpus quantizer, full-corpus assignment)
    "similar_ivf_ingest" -> ivfTopkSql(AnnK,
      centWhere = " WHERE vec_id % 2 = 0"),
    "embeds_ingest_stream" -> ivfTopkSql(AnnK,
      centWhere = " WHERE vec_id % 2 = 0"),
    // from-scratch oracle for the retraction path: full-corpus quantizer,
    // kv side restricted to the survivors
    "similar_ivf_retract" -> ivfTopkSql(AnnK,
      kvWhere = " WHERE vec_id % 16 <> 0"),
    "kmeans_step" -> kmeansStepOracle,
    "kmeans_train" -> kmeansTrainOracle,
    "docs_topics" -> docsTopicsOracle,
    "kmeans_train_conv" -> kmeansConvOracle,
    "similar_ivf_trained" -> ivfTrainedTopkOracle,
    "embed_pq_codes" -> pqCodesOracle,
    "similar_pq" -> pqTopkSql(TopK, pqStdQCte),
    "pq_train" -> pqTrainOracle,
    "similar_pq_trained" -> pqTrainedTopkOracle,
    "similar_pq_recall" -> pqRecallOracleFor("label"),
    "similar_pq_k256" -> pqTopkSql(TopK, pqStdQCte, jExpr = s"vec_id % ${Pq.BigK}"),
    "similar_pq_k256_recall" -> pqRecallOracleFor(s"vec_id % ${Pq.BigK}"),
    "similar_ivfpq" -> ivfPqTopkSql(AnnK, perturbedQCte),
    "similar_ivfpq_recall" -> ivfPqRecallOracle,
    "similar_ivfpq_pruned" -> ivfPqTopkSql(AnnK, perturbedQCte),
    "similar_ivfpq_ingest" -> ivfPqTopkSql(AnnK, perturbedQCte,
      centWhere = " WHERE vec_id % 2 = 0", cbWhere = " WHERE vec_id % 2 = 0"),
    "similar_ivfpq_res" -> ivfPqResTopkSql(AnnK, perturbedQCte),
    "similar_ivfpq_res_recall" -> ivfPqResRecallOracle,
    "dedup_embed" -> nearDupOracle,
    "dedup_semantic" -> semanticDedupOracle,
    "dedup_semantic_trained" -> semanticDedupTrainedOracle,
    "dedup_corpus_semantic" ->
      s"""SELECT CAST(e.label AS BIGINT) AS label, count(*) AS n_kept
         |FROM embeddings e
         |LEFT JOIN (SELECT vec_id FROM ($semanticDedupOracle) sd
         |           WHERE NOT keep) d ON d.vec_id = e.vec_id
         |WHERE d.vec_id IS NULL GROUP BY e.label""".stripMargin,
    "similar_mmr" -> mmrOracle,
    "similar_mmr_ivf" -> mmrIvfOracle,
    "similar_mmr_gain" -> mmrGainOracle,
    "embed_triplets" -> tripletsOracle,
    "similar_mrr_eval" -> mrrEvalOracle,
    "mine_bitext" -> bitextOracle,
    "mine_bitext_audit" -> bitextAuditOracle,
    "decontaminate_embed" -> embedDecontamOracle
  )
}
