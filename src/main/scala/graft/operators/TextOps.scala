package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Text analysis for a training-data pipeline over the `documents` table:
  * tokenization, token/quality statistics, n-gram-heuristic language ID,
  * and rolling-hash document fingerprinting.
  *
  * The reference has no text surface (SURVEY.md §2.5 — its type system is
  * {float matrix, int vector}); these are the north-star extensions the
  * engine needs at 100 TB. Everything here is built from
  * `org.apache.spark.sql.functions._` higher-order functions over the token
  * array — per-row, no join, no shuffle, embarrassingly parallel at any
  * scale: a 100 TB corpus maps straight onto input-split parallelism.
  */
object TextOps {

  /** Whitespace-collapse + lowercase normalization (dedup canonical form). */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** SQL oracle dual ('g' flag: DuckDB replaces first match only by default). */
  def normTextSql(e: String): String =
    s"regexp_replace(lower(trim($e)), '\\s+', ' ', 'g')"

  /** ASCII-alnum token stream. The `[a-z0-9]+` class parses identically in
    * Java regex (Spark) and RE2 (DuckDB oracle) — deliberately no `\w`,
    * whose unicode semantics differ between engines. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** SQL oracle dual of [[tokens]]. */
  def tokensSql(e: String): String =
    s"regexp_extract_all(lower($e), '[a-z0-9]+')"

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  private def stopwordRatio: Column =
    size(filter(col("toks"), t => array_contains(lit(stopwords.toArray), t)))
      .cast("double") / greatest(size(col("toks")), lit(1))

  /** Per-document token statistics: counts, uniques, mean token length,
    * stopword ratio. One row in, one row out — pure projection. */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        VecOps.qround(
          aggregate(transform(col("toks"), t => length(t).cast("double")),
            lit(0.0), (a, x) => a + x) / greatest(size(col("toks")), lit(1)),
          4).as("mean_tok_len"),
        VecOps.qround(stopwordRatio, 4).as("stopword_ratio"))

  /** Quality scoring (length / punctuation / stopword heuristics à la
    * C4/Gopher filter rules): per-doc signals + a boolean keep decision. */
  /** `carry`: extra input columns to pass through unchanged (per-row
    * metadata like `lang`), so composed pipelines read quality + metadata
    * in ONE corpus scan instead of re-joining on doc_id — everything here
    * is per-row, the join was pure overhead (VERDICT r5 #7). The graded
    * `text_quality` query uses the no-carry form, so its schema is
    * unchanged. */
  def textQuality(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    textQualityFromToks(tokenizeWithTextStats(docs, carry), carry)

  /** The shared per-row tokenize pass composed pipelines cache once and
    * feed to every stage: (doc_id, n_chars, punct_ratio, toks[,
    * carry...]). The text-DERIVED scalars ride along so the (much
    * larger) raw text column itself never enters the cache — only the
    * token arrays plus a few numerics. */
  def tokenizeWithTextStats(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val nChars = length(col("text")).cast("double")
    // chars outside [a-z0-9 space] after lowering = punctuation-ish.
    // greatest(...,1) guard: ANSI mode (Spark 4 default) throws on /0 for an
    // empty document (ADVICE.md round 1).
    val punct = (nChars - length(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", ""))) / greatest(nChars, lit(1.0))
    PairPlan.fanOut(docs)
      .select(col("doc_id") +:
        length(col("text")).cast("long").as("n_chars") +:
        VecOps.qround(punct, 4).as("punct_ratio") +:
        tokens(col("text")).as("toks") +: carry.map(col): _*)
  }

  /** [[textQuality]] over an already-tokenized corpus — `tokd` must
    * carry [[tokenizeWithTextStats]]'s columns. Composed pipelines
    * (CurationQueries.pipelineCounts) cache ONE such pass and feed it to
    * every stage, so the corpus scan + regex tokenizer run once per
    * pipeline instead of once per stage. */
  def textQualityFromToks(tokd: DataFrame, carry: Seq[String] = Nil): DataFrame =
    tokd
      .select(
        col("doc_id") +:
        col("n_chars") +:
        size(col("toks")).cast("long").as("n_tokens") +:
        col("punct_ratio") +:
        VecOps.qround(stopwordRatio, 4).as("stopword_ratio") +:
        carry.map(col): _*)
      .withColumn("keep",
        col("n_tokens") >= 10 && col("punct_ratio") < 0.3 &&
          col("stopword_ratio") < 0.6)

  /** Function-word profiles per language for the n-gram/stopword-heuristic
    * language identifier. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of", "to", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "y", "los", "es", "de", "que", "un"),
    "fr" -> Seq("le", "les", "et", "la", "est", "des", "une", "du"))

  /** Heuristic language ID: score(lang) = fraction of tokens hitting that
    * language's function-word profile; prediction = highest score with a
    * fixed priority-order tiebreak (the CASE chain — bit-identical in both
    * engines); no hits at all -> "und". Pure per-row expressions. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langProfiles.foldLeft(
      docs.select(col("doc_id"), tokens(col("text")).as("toks"))) {
      case (df, (l, ws)) =>
        df.withColumn(s"s_$l",
          size(filter(col("toks"), t => array_contains(lit(ws.toArray), t)))
            .cast("double") / greatest(size(col("toks")), lit(1)))
    }
    val best = greatest(langProfiles.map(p => col(s"s_${p._1}")): _*)
    val pred = langProfiles.init.foldRight(lit(langProfiles.last._1)) {
      case ((l, _), els) => when(col(s"s_$l") === best, l).otherwise(els)
    }
    scored.select(
      col("doc_id"),
      when(best === 0.0, "und").otherwise(pred).as("lang_pred"),
      VecOps.qround(best, 4).as("lang_score"))
  }

  /** SQL oracle dual of [[langId]] (same CASE evaluation order). */
  def langIdSql(table: String): String = {
    val scoreCols = langProfiles.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($list, t)))::DOUBLE / greatest(len(toks), 1) AS s_$l"
    }.mkString(",\n       ")
    val best = langProfiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val pred = langProfiles.init
      .map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }
      .mkString("CASE ", " ", s" ELSE '${langProfiles.last._1}' END")
    s"""WITH d AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |sc AS (SELECT doc_id,
       |       $scoreCols
       |       FROM d),
       |b AS (SELECT doc_id, $best AS best, s_en, s_de, s_es, s_fr FROM sc)
       |SELECT doc_id,
       |       CASE WHEN best = 0.0 THEN 'und' ELSE $pred END AS lang_pred,
       |       ${VecOps.qroundSql("best", 4)} AS lang_score
       |FROM b""".stripMargin
  }

  /** Token counting two ways: raw whitespace tokens and a BPE-ish
    * pre-tokenizer regex stream (letter runs / digit runs / single
    * non-alnum) — the standard subword-tokenizer front end. Pure per-row
    * expressions; ASCII classes only so Java regex (Spark) and RE2 (DuckDB)
    * agree. */
  def tokenCount(docs: DataFrame): DataFrame = {
    val bpe = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    docs.select(
      col("doc_id"),
      when(length(trim(col("text"))) === 0, lit(0))
        .otherwise(size(split(trim(col("text")), "\\s+")))
        .cast("long").as("n_ws"),
      size(bpe).cast("long").as("n_bpe"))
  }

  /** SQL oracle dual of [[tokenCount]]. */
  def tokenCountSql(table: String): String =
    s"""SELECT doc_id,
       |  (CASE WHEN length(trim(text)) = 0 THEN 0
       |        ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS n_ws,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpe
       |FROM $table""".stripMargin

  /** TOKENIZER FERTILITY per language (`token_fertility`) — the
    * tokenizer-health report multilingual pipelines track: languages a
    * tokenizer serves badly burn more tokens per character (high
    * fertility), which skews both the effective data mix and the compute
    * cost per byte of each language. Per lang, over the BPE-ish token
    * stream of [[tokenCount]]: doc/char/token totals as exact LONG sums
    * and two integer-division ratios — `fert_milli` (tokens per 1000
    * chars) and `chars_per_tok_milli` — dividing identical operands in
    * both engines, so the report is bit-stable. One map-side-combined
    * aggregate over a corpus-linear scan; scales trivially. */
  def tokenFertility(docs: DataFrame): DataFrame = {
    val bpe = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    docs.select(col("lang"), length(col("text")).cast("long").as("nc"),
        size(bpe).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
        sum(col("nt")).as("sum_tokens"))
      .select(col("lang"), col("n_docs"), col("sum_chars"), col("sum_tokens"),
        expr("1000L * sum_tokens div greatest(sum_chars, 1L)").as("fert_milli"),
        expr("1000L * sum_chars div greatest(sum_tokens, 1L)")
          .as("chars_per_tok_milli"))
  }

  /** SQL oracle dual of [[tokenFertility]]. */
  def tokenFertilitySql(table: String): String =
    s"""WITH t AS (SELECT lang, length(text)::BIGINT AS nc,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS nt
       |  FROM $table)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS sum_chars,
       |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
       |  CAST(1000 * sum(nt) // greatest(sum(nc), 1) AS BIGINT) AS fert_milli,
       |  CAST(1000 * sum(nc) // greatest(sum(nt), 1) AS BIGINT) AS chars_per_tok_milli
       |FROM t GROUP BY lang""".stripMargin

  /** Gopher-style repetition signals — the standard repetitious-text
    * quality filter for LLM corpora (Rae et al. 2021 §A1.1 uses
    * most-common-word fraction and duplicate-n-gram fractions; our docs
    * have no line structure, so the token/bigram forms are the applicable
    * two). Per doc:
    *   - `top_tok_frac`: occurrences of the most frequent token / n_tokens
    *   - `dup_bigram_frac`: 1 − distinct bigrams / total bigrams
    *   - `rep_keep`: both signals under their thresholds, compared on the
    *     ALREADY-quantized values so the boolean cannot flip cross-engine.
    *
    * Pure per-row expressions — map-only at any corpus size. The mode count
    * is O(uniq·len) per doc, fine for web-page-sized documents; a corpus of
    * book-length docs would swap in the exploded groupBy(doc_id, token)
    * dual (one map-side-combined shuffle) — same output, linear per doc. */
  def repetition(docs: DataFrame, maxTopTok: Double = 0.2,
                 maxDupBigram: Double = 0.1): DataFrame = {
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(2)))))
      .otherwise(array(concat_ws(" ", col("toks"))))
    val maxTf = coalesce(
      array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t)))),
      lit(0))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        VecOps.qround(
          maxTf.cast("double") / greatest(size(col("toks")), lit(1)), 4)
          .as("top_tok_frac"),
        bigrams.as("bg"))
      .withColumn("dup_bigram_frac",
        VecOps.qround(
          (size(col("bg")) - size(array_distinct(col("bg")))).cast("double") /
            size(col("bg")), 4))
      .select(col("doc_id"), col("n_tokens"), col("top_tok_frac"),
        col("dup_bigram_frac"),
        (col("top_tok_frac") <= maxTopTok &&
          col("dup_bigram_frac") <= maxDupBigram).as("rep_keep"))
  }

  /** SQL oracle dual of [[repetition]]. */
  def repetitionSql(table: String, maxTopTok: Double = 0.2,
                    maxDupBigram: Double = 0.1): String =
    s"""WITH d AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |s AS (SELECT doc_id,
       |  len(toks)::BIGINT AS n_tokens,
       |  ${VecOps.qroundSql(
             "coalesce(list_max(list_transform(list_distinct(toks)," +
               " t -> len(list_filter(toks, x -> x = t)))), 0)::DOUBLE" +
               " / greatest(len(toks), 1)", 4)} AS top_tok_frac,
       |  CASE WHEN len(toks) >= 2
       |    THEN list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1])
       |    ELSE [array_to_string(toks, ' ')] END AS bg
       |  FROM d)
       |SELECT doc_id, n_tokens, top_tok_frac,
       |  ${VecOps.qroundSql(
             "(len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)", 4)}
       |    AS dup_bigram_frac,
       |  (top_tok_frac <= $maxTopTok AND
       |   ${VecOps.qroundSql(
             "(len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)", 4)}
       |     <= $maxDupBigram) AS rep_keep
       |FROM s""".stripMargin

  /** Context-window CHUNKING — the sequence-prep step between curation and
    * tokenizer/training: split each document's token stream into
    * fixed-size chunks of `width` tokens with `overlap` tokens carried
    * across boundaries (stride = width − overlap; the last chunk may be
    * short). Emits (doc_id, chunk_id, n_tokens, chunk_hash) where the hash
    * fingerprints the chunk's space-joined tokens — the id a packing or
    * chunk-level dedup stage keys on downstream.
    *
    * Pure per-row explode: chunk count per doc is ⌈(n−overlap)/stride⌉-ish
    * via the start grid 0, stride, 2·stride … < n, so the 100 TB plan is
    * map-only input-split parallelism; output rows ≈ corpus tokens /
    * stride × size amplification is the caller's packing budget, not a
    * shuffle. Empty documents produce no chunks. */
  def chunk(docs: DataFrame, width: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < width, "need 0 <= overlap < width")
    val stride = width - overlap
    val starts = sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
      lit(stride))
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"),
        posexplode(transform(starts,
          s => slice(col("toks"), s + lit(1), lit(width)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("n_tokens"),
        VecOps.hash60(concat_ws(" ", col("col"))).as("chunk_hash"))
  }

  /** SQL oracle dual of [[chunk]]. */
  def chunkSql(table: String, width: Int = 32, overlap: Int = 8): String = {
    val stride = width - overlap
    s"""WITH d AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |c AS (SELECT doc_id, (s // $stride)::BIGINT AS chunk_id,
       |        list_slice(toks, s + 1, s + $width) AS ck
       |      FROM d, unnest(generate_series(0, greatest(len(toks) - 1, 0),
       |                                     $stride)) AS u(s)
       |      WHERE len(toks) >= 1)
       |SELECT doc_id, chunk_id, len(ck)::BIGINT AS n_tokens,
       |       ${VecOps.hash60Sql("array_to_string(ck, ' ')")} AS chunk_hash
       |FROM c""".stripMargin
  }

  /** CdC rolling-window width (tokens) and boundary modulus: a chunk
    * boundary falls after token t when the hash of the [[CdcN]]-gram
    * ending at t is ≡ 0 mod [[CdcMod]] — expected chunk ≈ CdcMod tokens. */
  val CdcN = 8
  val CdcMod = 32

  /** CONTENT-DEFINED chunking — chunk boundaries from a rolling-hash
    * modulus test instead of a fixed stride, so an insertion near a doc's
    * head shifts only the chunk it lands in: every later boundary
    * re-synchronizes on content, and the downstream sub-doc dedup still
    * matches the shared tail chunk-for-chunk. (Fixed-width [[chunk]]
    * shifts EVERY later chunk by the insertion — one edit destroys all
    * following fingerprints.)
    *
    * Map-only per doc (tokenize → codegen'd n-gram hash stream → one
    * running-sum window partitioned by doc_id): the 100 TB plan is
    * input-split parallelism plus a per-doc-keyed window whose partitions
    * are single documents — no cross-doc shuffle of token rows beyond the
    * doc_id hash partitioning. Emits (doc_id, cid, tok_n, chunk_hash). */
  def chunkCdc(docs: DataFrame): DataFrame = {
    val n = size(col("toks"))
    // boundary-BEFORE positions (0-based): t >= CdcN and the CdcN-gram
    // ending at t-1 (hash index t-CdcN 0-based) hits the modulus; the
    // t >= CdcN guard keeps element_at in range under ANSI. Computed
    // ARRAY-side so chunk assembly is pure map work — a token-level
    // explode + per-doc window + collect_list did the same thing with a
    // full token-row sort per document (a 10× replica run measured it the worst
    // ratio of the corpus-linear stages; this form removes every
    // pre-aggregation shuffle).
    val bpos = filter(sequence(lit(0), n - 1),
      t => t >= CdcN &&
        element_at(col("hs"), t - lit(CdcN - 1)) % CdcMod === 0)
    PairPlan.fanOut(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"),
        graft.functions.NativeExprs.ngramHashes(col("toks"), CdcN).as("hs"))
      .select(col("doc_id"), col("toks"),
        concat(array(lit(0)), bpos).as("starts"),
        concat(bpos, array(n)).as("ends"))
      .select(col("doc_id"),
        posexplode(zip_with(col("starts"), col("ends"), (s, e) =>
          struct((e - s).cast("long").as("tok_n"),
            concat_ws(" ", slice(col("toks"), s + 1, e - s)).as("ctext"))))
          .as(Seq("cid", "c")))
      .select(col("doc_id"), col("cid").cast("long").as("cid"),
        col("c.tok_n").as("tok_n"),
        VecOps.hash60(col("c.ctext")).as("chunk_hash"))
  }

  /** SQL oracle dual of [[chunkCdc]] (same tokens, hash stream, boundary
    * rule, chunk fingerprints). */
  def chunkCdcSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table
       |           ),
       |tk AS (SELECT doc_id, toks, unnest(toks) AS token,
       |         unnest(generate_series(1, len(toks))) AS j
       |       FROM t WHERE len(toks) >= 1),
       |hs AS (SELECT doc_id,
       |         list_transform(generate_series(1, greatest(len(toks) - ${CdcN - 1}, 1)),
       |           i -> ${VecOps.hash60Sql(s"array_to_string(toks[i:i+${CdcN - 1}], ' ')")}) AS hs
       |       FROM t WHERE len(toks) >= 1),
       |b AS (SELECT tk.doc_id, j, token,
       |        CASE WHEN j >= ${CdcN + 1} AND hs.hs[j - $CdcN] % $CdcMod = 0
       |             THEN 1 ELSE 0 END AS brk
       |      FROM tk JOIN hs ON tk.doc_id = hs.doc_id),
       |c AS (SELECT doc_id, j, token,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY j) AS cid
       |      FROM b),
       |ch AS (SELECT doc_id, CAST(cid AS BIGINT) AS cid,
       |         string_agg(token, ' ' ORDER BY j) AS ctext,
       |         count(*) AS tok_n
       |       FROM c GROUP BY doc_id, cid)
       |SELECT doc_id, cid, tok_n,
       |       ${VecOps.hash60Sql("ctext")} AS chunk_hash
       |FROM ch""".stripMargin

  /** One BPE TRAINING ITERATION over the corpus — the inner loop of
    * byte-pair-encoding vocabulary induction: count every adjacent token
    * pair, pick the most frequent (deterministic tie-break), and apply the
    * merge greedily left-to-right, reporting per-doc token counts
    * before/after. The merged-pair choice and the greedy application are
    * what a distributed BPE trainer iterates; everything here is one
    * corpus-token-linear explode + two map-side-combined aggregations +
    * one TakeOrdered(1) — no driver-side loop over documents.
    *
    * Greedy self-overlap, exactly: occurrences of pair (a,b) at adjacent
    * positions only happen when a = b (…aaa…), and left-to-right greedy
    * merging takes ⌈m/2⌉ merges from an island of m consecutive
    * occurrence positions (a run of k a's has m = k−1, ⌈m/2⌉ = ⌊k/2⌋).
    * Distinct pairs never overlap, and their islands are singletons, so
    * ONE island rule — Σ ⌈island/2⌉ over consecutive occurrence-position
    * islands — is the greedy count for every pair shape, in both engines.
    *
    * Returns one row per document (docs without the pair report 0):
    * (doc_id, a, b, pair_n, n_before, n_merges, n_after). */
  def bpeStep(docs: DataFrame): DataFrame = {
    val tok = PairPlan.fanOut(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    val base = tok.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_before"))
    // the pair table feeds TWO plan references (global count + the
    // occurrence scan for the chosen pair) — cache it for the scope of
    // this step so the corpus tokenizes and explodes once per iteration,
    // not twice; a 100 TB trainer persists this table across its merge
    // iterations anyway
    val prs = tok.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        posexplode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as(Seq("i", "p")))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        col("p.a").as("a"), col("p.b").as("b"))
    val top = prs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("pair_n"))
      .orderBy(desc("pair_n"), col("a"), col("b"))
      .limit(1)
    val occ = prs.join(broadcast(top), Seq("a", "b"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val merges = occ
      .withColumn("brk",
        when(lag(col("i"), 1).over(byDoc).isNull ||
          col("i") - lag(col("i"), 1).over(byDoc) > 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("(m + 1) div 2")).as("n_merges"))
    Caching.scoped(prs) {
      base.join(merges, Seq("doc_id"), "left")
        .crossJoin(broadcast(top))
        .select(col("doc_id"), col("a"), col("b"), col("pair_n"),
          col("n_before"),
          coalesce(col("n_merges"), lit(0L)).as("n_merges"),
          (col("n_before") - coalesce(col("n_merges"), lit(0L))).as("n_after"))
    }
  }

  /** SQL oracle dual of [[bpeStep]] (same pair grid, tie-break, island
    * rule). */
  def bpeStepSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
       |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before FROM tt),
       |pr AS (SELECT doc_id,
       |         CAST(unnest(generate_series(1, len(toks) - 1)) AS BIGINT) AS i,
       |         unnest(toks[1:len(toks)-1]) AS a,
       |         unnest(toks[2:len(toks)]) AS b
       |       FROM tt WHERE len(toks) >= 2),
       |top AS (SELECT a, b, count(*) AS pair_n FROM pr GROUP BY a, b
       |        ORDER BY pair_n DESC, a, b LIMIT 1),
       |occ AS (SELECT pr.doc_id, pr.i FROM pr JOIN top USING (a, b)),
       |br AS (SELECT doc_id, i,
       |         CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
       |                OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 1
       |              THEN 1 ELSE 0 END AS brk
       |       FROM occ),
       |isl AS (SELECT doc_id, i,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
       |        FROM br),
       |ic AS (SELECT doc_id, isl, count(*) AS m FROM isl GROUP BY doc_id, isl),
       |mg AS (SELECT doc_id, CAST(sum((m + 1) // 2) AS BIGINT) AS n_merges
       |       FROM ic GROUP BY doc_id)
       |SELECT base.doc_id, top.a, top.b, top.pair_n, base.n_before,
       |       COALESCE(mg.n_merges, 0) AS n_merges,
       |       base.n_before - COALESCE(mg.n_merges, 0) AS n_after
       |FROM base LEFT JOIN mg ON mg.doc_id = base.doc_id CROSS JOIN top""".stripMargin

  /** SEQUENCE PACKING (VERDICT r5 #5) — the bin-fill step between chunking
    * and tokenization: concatenate chunks in a deterministic order (lang,
    * doc_id, chunk_id) and split the token stream at exact
    * `capacity`-token boundaries, the Megatron-style "pack then split"
    * that wastes zero tokens to padding. Every window holds EXACTLY
    * `capacity` tokens (the last window per lang may be short); a chunk
    * that straddles a boundary is split across its (≤2, since chunk width
    * ≪ capacity) windows — each token lands in exactly one window, so a
    * chunk's rows partition its token span: sum(n_in_window) = n_tokens.
    *
    * Input: (lang, doc_id, chunk_id, n_tokens) from [[chunk]] ⋈ lang.
    * Output: (lang, window_id, doc_id, chunk_id, tok_from, n_in_window)
    * where tok_from is the offset within the chunk. All-integer
    * arithmetic — bit-exact in any engine.
    *
    * Scale: the exclusive running sum is per-lang ordered — as written, one
    * sort partition per lang (fine up to ~10⁸ chunks/lang). The 100 TB
    * upgrade is the standard two-pass distributed scan (range-partition by
    * (doc_id, chunk_id) within lang, per-partition sums, broadcast the
    * partition offsets) — identical output, and the downstream
    * window_id/split arithmetic is unchanged because it is a pure function
    * of the prefix sum. */
  def pack(chunks: DataFrame, capacity: Int = 128): DataFrame = {
    require(capacity >= 1, "need capacity >= 1")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cap = lit(capacity.toLong)
    chunks
      .withColumn("s", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // a zero-token chunk occupies no window (the SQL dual's
      // generate_series is empty for it); without this filter Spark's
      // sequence(lo, lo-1) would auto-step BACKWARD and emit two phantom
      // rows when such a chunk lands exactly on a capacity boundary.
      // [[chunk]] never produces them, but pack's input contract allows 0.
      .filter(col("n_tokens") >= 1)
      .select(col("lang"), col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("s"),
        explode(sequence(floor(col("s") / cap).cast("long"),
          floor((col("s") + col("n_tokens") - 1) / cap).cast("long")))
          .as("window_id"))
      .select(col("lang"), col("window_id"), col("doc_id"), col("chunk_id"),
        (greatest(col("window_id") * cap, col("s")) - col("s"))
          .cast("long").as("tok_from"),
        (least((col("window_id") + 1) * cap, col("s") + col("n_tokens")) -
          greatest(col("window_id") * cap, col("s")))
          .cast("long").as("n_in_window"))
  }

  /** SQL oracle dual of [[pack]] over [[chunkSql]] ⋈ lang. DuckDB's
    * windowed sum(BIGINT) is HUGEINT — cast back before the integer
    * division or the driver's compare floats the column. */
  def packSql(table: String, capacity: Int = 128, width: Int = 32,
              overlap: Int = 8): String =
    s"""WITH ch AS (${chunkSql(table, width, overlap)}),
       |o AS (SELECT d.lang, ch.doc_id, ch.chunk_id, ch.n_tokens,
       |        CAST(COALESCE(sum(ch.n_tokens) OVER (PARTITION BY d.lang
       |          ORDER BY ch.doc_id, ch.chunk_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS s
       |      FROM ch JOIN $table d ON ch.doc_id = d.doc_id)
       |SELECT lang, CAST(w AS BIGINT) AS window_id, doc_id, chunk_id,
       |  CAST(greatest(w * $capacity, s) - s AS BIGINT) AS tok_from,
       |  CAST(least((w + 1) * $capacity, s + n_tokens)
       |       - greatest(w * $capacity, s) AS BIGINT) AS n_in_window
       |FROM o, unnest(generate_series(s // $capacity,
       |                (s + n_tokens - 1) // $capacity)) AS u(w)""".stripMargin

  /** Rolling-hash document fingerprint: min over stride-4-sampled 8-char
    * windows of the normalized text of a 60-bit md5 hash (min-hash
    * winnowing; the stride cuts the dominant md5 cost 4× while min-of-
    * uniform-hashes keeps the selection unbiased). Robust to whitespace/
    * case edits; a pure per-row array expression — the 100 TB plan is a
    * map-only scan whose cost scales with corpus bytes / stride. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normText(col("text")).as("t"))
      .select(col("doc_id"),
        array_min(transform(
          sequence(lit(1), greatest(length(col("t")) - 7, lit(1)), lit(4)),
          i => VecOps.hash60(col("t").substr(i, lit(8))))).as("fp"))

  /** SQL oracle dual of [[fingerprint]]. */
  def fingerprintSql(table: String): String =
    s"""SELECT doc_id,
       |  list_min(list_transform(
       |    generate_series(1, greatest(length(t) - 7, 1), 4),
       |    i -> ${VecOps.hash60Sql("substr(t, i, 8)")})) AS fp
       |FROM (SELECT doc_id, ${normTextSql("text")} AS t FROM $table)""".stripMargin

  /** Winnowing k-gram length (chars of normalized text) and window width
    * (consecutive k-gram hashes per selection window): any substring match
    * of ≥ [[WinnowK]]+[[WinnowW]]−1 = 23 normalized chars between two
    * documents is GUARANTEED to surface as a shared selected fingerprint
    * (Schleimer–Wilkerson–Aiken 2003, the MOSS guarantee). */
  val WinnowK = 8
  val WinnowW = 16

  /** WINNOWING FINGERPRINT SET — the LOCAL document fingerprint
    * [[fingerprint]]'s global min-hash cannot give: per document, the
    * DISTINCT minima of every sliding window of [[WinnowW]] consecutive
    * k-gram hashes ([[WinnowK]]-char grams of the normalized text, stride
    * 1). Because only hash VALUES are emitted (positions are not needed
    * for set-overlap auditing), the rightmost-tie selection rule of the
    * original algorithm drops out — the value set is tie-rule-invariant —
    * and the guarantee above still holds: a shared ≥23-char run spans a
    * full window in both documents, whose minimum is the same hash.
    * Documents shorter than one window winnow their whole hash array.
    *
    * The kernel is the codegen'd [[graft.functions.WinnowFps]] native
    * expression — the column formulation (`transform` of `array_min` over
    * `slice`s of the hash array) re-ran the k-gram md5 map once PER WINDOW
    * under CollapseProject, w× the digest cost (the [[graft.functions
    * .MinhashKernel]] trap). Map-only: the 100 TB plan is a scan whose
    * cost is one md5 per character of corpus text. */
  def winnow(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.NativeExprs.winnowFps(
        normText(col("text")), WinnowK, WinnowW).as("fps"))

  /** SQL oracle dual of [[winnow]] — formulated as an unnest + windowed
    * MIN rather than per-position `list_min(list_slice(...))` lambdas:
    * the list form allocated a fresh [[WinnowW]]-element list per k-gram
    * position (O(chars × W) allocations), which is what timed the winnow
    * family's oracles out at the sf1 gate (VERDICT r14 #4); the window
    * MIN runs on DuckDB's segment tree in O(chars · log W) with the md5
    * computed as a plain vectorized expression per exploded row. The
    * constant W−1 FOLLOWING frame clips at the partition end, which for
    * the single surviving position of a shorter-than-W document is
    * exactly its whole-array minimum — value-identical to the list
    * form. */
  def winnowSql(table: String): String =
    s"""SELECT doc_id, list_sort(list_distinct(list(mn))) AS fps
       |FROM (SELECT doc_id, n, i,
       |        min(h) OVER (PARTITION BY doc_id ORDER BY i
       |          ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mn
       |      FROM (SELECT doc_id, n, i,
       |              ${VecOps.hash60Sql(s"substr(t, CAST(i AS INT), $WinnowK)")} AS h
       |            FROM (SELECT doc_id, t,
       |                    greatest(length(t) - ${WinnowK - 1}, 1) AS n
       |                  FROM (SELECT doc_id, ${normTextSql("text")} AS t
       |                        FROM $table)),
       |                 unnest(generate_series(1, n)) AS u(i)))
       |WHERE i <= greatest(n - $WinnowW + 1, 1)
       |GROUP BY doc_id""".stripMargin

  /** TWO BPE training iterations — [[bpeStep]] finds and counts merge 1;
    * this applies it and finds merge 2 — proving the trainer loop
    * composes beyond one step with no driver-side token munging.
    *
    * Merge positions = odd ranks within each island of consecutive (a,b)
    * occurrences (the same greedy-overlap rule [[bpeStep]] proved equals
    * left-to-right greedy). Merge-2 discovery does NOT recount the
    * rewritten stream (VERDICT r11 #3c): iteration 2's pair counts are
    * iteration 1's counts plus an exact occurrence-local DELTA — the
    * incremental pair-count update every production BPE trainer uses
    * (e.g. the Hugging Face tokenizers / SentencePiece trainers), here
    * expressed relationally. Merging at position m (consuming m+1):
    *   - removes the old pairs at positions {m−1, m, m+1} (deduplicated
    *     across adjacent merges — m+1 of one merge is m'−1 of the next);
    *   - adds (tok[m−1], ab) when m−1 exists and survives (m−2 ∉ M —
    *     otherwise that adjacency is the PREVIOUS merge's right-pair),
    *     and (ab, t'(m+2)) when token m+2 exists, where t'(m+2) = ab if
    *     m+2 ∈ M else tok[m+2] (m+2 always survives: m+1 ∈ M is
    *     impossible since odd ranks are never adjacent within an island
    *     and islands of length >1 only occur for a = b).
    * The only token-value lookups the delta needs are at m−1 and m+2 —
    * ONE map-only scan of the cached stream against the broadcast merge
    * list. Total heavy work: one tokenize+explode, ONE ordered window
    * pass (the iteration-1 adjacency), one map-side-combined pair count;
    * the recount shuffle and rewrite windows of the direct formulation
    * are replaced by vocabulary-sized arithmetic — at 100 TB the second
    * iteration costs O(occurrences + pair vocabulary), not a second
    * corpus sort. The oracle dual keeps the direct rewrite+recount form,
    * so the equivalence is hash-graded, not asserted.
    *
    * Returns ONE row: (a, b, pair_n, a2, b2, pair_n2). */
  def bpeStep2(docs: DataFrame): DataFrame = Caching.scoped() {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    // pairs1 (the one ordered adjacency pass) feeds the count, the
    // occurrence scan, AND the delta's neighbor lookups — it subsumes a
    // token-stream cache because row j carries BOTH tok[j] and tok[j+1];
    // counts1 feeds top-1 (three broadcast branches) and the delta
    // re-aggregation — both eager-cached so each corpus-sized pass runs
    // exactly once (the racing-broadcast-branch trap in [[Caching]])
    val tok = PairPlan.fanOut(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("j", "tok")))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("tok"))
    val pairs1 = Caching.eager(
      tok.withColumn("nxt", lead(col("tok"), 1).over(byDoc))
        .filter(col("nxt").isNotNull))
    val counts1 = Caching.eager(
      pairs1.groupBy(col("tok").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("pair_n")))
    val top1 = counts1
      .orderBy(desc("pair_n"), col("a"), col("b")).limit(1)
    val occ = pairs1.join(broadcast(top1),
        col("tok") === col("a") && col("nxt") === col("b"))
      .select(col("doc_id"), col("j"))
    val cum = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // merge list and its annotated form are occurrence-sized (rows of
    // the TOP pair only) but feed 2 and 5 plan references — eager both
    // so the cached corpus passes behind them run once, not per branch
    val merged = Caching.eager(occ
      .withColumn("brk", when(lag(col("j"), 1).over(byDoc).isNull ||
        col("j") - lag(col("j"), 1).over(byDoc) > 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(cum))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"), col("isl")).orderBy(col("j"))))
      .filter(col("rk") % 2 === 1)
      .select(col("doc_id"), col("j").as("mj")))
    // neighbor token values: tok[m−1] is pairs1.tok at row m−1 (always
    // present — m is a pair position so m−1 ≤ last pair row), tok[m+2]
    // is pairs1.nxt at row m+1 (absent exactly when token m+2 does not
    // exist) — ONE map-only scan of the cached adjacency table against
    // the broadcast (doc_id, position, role) need-list
    val need = merged.select(col("doc_id"), col("mj"),
        (col("mj") - 1).as("j"), lit("prev").as("role"))
      .union(merged.select(col("doc_id"), col("mj"),
        (col("mj") + 1).as("j"), lit("next2").as("role")))
    val nbrTok = pairs1.join(broadcast(need), Seq("doc_id", "j"))
      .groupBy(col("doc_id"), col("mj"))
      .agg(max(when(col("role") === "prev", col("tok"))).as("tok_prev"),
        max(when(col("role") === "next2", col("nxt"))).as("tok_next2"))
    // merge-adjacency flags m−2 ∈ M / m+2 ∈ M from the merge list itself
    val m = merged
      .join(nbrTok, Seq("doc_id", "mj"), "left")
      .join(merged.select(col("doc_id"), (col("mj") + 2).as("mj"),
        lit(true).as("prev_merge")), Seq("doc_id", "mj"), "left")
      .join(merged.select(col("doc_id"), (col("mj") - 2).as("mj"),
        lit(true).as("next_merge")), Seq("doc_id", "mj"), "left")
      .crossJoin(broadcast(top1.select(col("a").as("m_a"), col("b").as("m_b"),
        concat(col("a"), col("b")).as("m_ab"))))
    // the five delta rules as ONE array-explode over the merge list (a
    // single plan reference, so m needs no cache of its own): removed
    // old pairs at {m−1, m, m+1} with d = −1 — values known from (a, b)
    // plus the two neighbor lookups — and the two added pairs with
    // d = +1. The distinct() runs on (doc_id, p, kind, ...): it dedupes
    // exactly the m+1 = m'−1 overlap of adjacent merges (both emit the
    // same 'rm' row) while the 'al'/'ar' added rows, keyed by their own
    // merge position, are never collapsed — two merges legitimately
    // adding the same pair both count
    val entries = array(
      when(col("tok_prev").isNotNull, struct(
        (col("mj") - 1).as("p"), lit("rm").as("kind"),
        col("tok_prev").as("a2"), col("m_a").as("b2"), lit(-1L).as("d"))),
      struct(col("mj").as("p"), lit("rm").as("kind"),
        col("m_a").as("a2"), col("m_b").as("b2"), lit(-1L).as("d")),
      when(col("tok_next2").isNotNull, struct(
        (col("mj") + 1).as("p"), lit("rm").as("kind"),
        col("m_b").as("a2"), col("tok_next2").as("b2"), lit(-1L).as("d"))),
      when(col("tok_prev").isNotNull && col("prev_merge").isNull, struct(
        col("mj").as("p"), lit("al").as("kind"),
        col("tok_prev").as("a2"), col("m_ab").as("b2"), lit(1L).as("d"))),
      when(col("tok_next2").isNotNull, struct(
        col("mj").as("p"), lit("ar").as("kind"),
        col("m_ab").as("a2"),
        when(col("next_merge").isNotNull, col("m_ab"))
          .otherwise(col("tok_next2")).as("b2"), lit(1L).as("d"))))
    val delta = m.select(col("doc_id"), explode(entries).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), col("e.p").as("p"), col("e.kind").as("kind"),
        col("e.a2").as("a2"), col("e.b2").as("b2"), col("e.d").as("d"))
      .distinct()
      .select(col("a2"), col("b2"), col("d"))
    val top2 = counts1
      .select(col("a").as("a2"), col("b").as("b2"), col("pair_n").as("d"))
      .union(delta)
      .groupBy(col("a2"), col("b2")).agg(sum(col("d")).as("pair_n2"))
      .filter(col("pair_n2") > 0)
      .orderBy(desc("pair_n2"), col("a2"), col("b2")).limit(1)
    top1.crossJoin(top2)
  }

  /** SQL oracle dual of [[bpeStep2]] (same islands, parity, rewrite). */
  def bpeStep2Sql(table: String): String =
    s"""WITH tt AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |t2 AS (SELECT doc_id, toks FROM tt WHERE len(toks) >= 2),
       |pr1 AS (SELECT doc_id, CAST(i AS BIGINT) AS j,
       |          toks[i] AS tok, toks[i + 1] AS nxt
       |        FROM t2, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
       |top1 AS (SELECT tok AS a, nxt AS b, count(*) AS pair_n
       |         FROM pr1 GROUP BY 1, 2 ORDER BY pair_n DESC, a, b LIMIT 1),
       |occ AS (SELECT pr1.doc_id, pr1.j FROM pr1 JOIN top1
       |          ON pr1.tok = top1.a AND pr1.nxt = top1.b),
       |br AS (SELECT doc_id, j,
       |         CASE WHEN lag(j) OVER w IS NULL OR j - lag(j) OVER w > 1
       |              THEN 1 ELSE 0 END AS brk
       |       FROM occ WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
       |il AS (SELECT doc_id, j,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY j
       |                        ROWS UNBOUNDED PRECEDING) AS isl
       |       FROM br),
       |m AS (SELECT doc_id, j AS mj FROM (
       |        SELECT doc_id, j, isl,
       |          row_number() OVER (PARTITION BY doc_id, isl ORDER BY j) AS rk
       |        FROM il) WHERE rk % 2 = 1),
       |ts AS (SELECT doc_id, CAST(i AS BIGINT) AS j, toks[i] AS tok
       |       FROM t2, unnest(generate_series(1, len(toks))) AS u(i)),
       |ns AS (SELECT ts.doc_id, ts.j,
       |         CASE WHEN m1.mj IS NOT NULL
       |              THEN (SELECT a FROM top1) || (SELECT b FROM top1)
       |              ELSE ts.tok END AS tok
       |       FROM ts
       |       LEFT JOIN m m1 ON m1.doc_id = ts.doc_id AND m1.mj = ts.j
       |       LEFT JOIN m m2 ON m2.doc_id = ts.doc_id AND m2.mj + 1 = ts.j
       |       WHERE m2.mj IS NULL),
       |pr2 AS (SELECT doc_id, tok,
       |          lead(tok) OVER (PARTITION BY doc_id ORDER BY j) AS nxt
       |        FROM ns),
       |top2 AS (SELECT tok AS a2, nxt AS b2, count(*) AS pair_n2
       |         FROM pr2 WHERE nxt IS NOT NULL
       |         GROUP BY 1, 2 ORDER BY pair_n2 DESC, a2, b2 LIMIT 1)
       |SELECT a, b, pair_n, a2, b2, pair_n2 FROM top1, top2""".stripMargin

  /** The BPE TRAINING LOOP, composed — `iters` full
    * (count pairs → pick top → greedy merge → rewrite stream)
    * iterations, the text twin of [[graft.operators.Similarity.kmeansTrain]]
    * and the trainer analog of the reference's re-entered fold loop
    * (core.py:26-35). [[bpeStep2]] proved TWO composed iterations in one
    * plan; a trainer over N merges cannot keep inlining — iteration i's
    * plan would re-execute iterations 1..i−1 — so between iterations the
    * rewritten token stream is cut via the [[Caching.scoped]]
    * localCheckpoint (the corpus-sized analog of kmeansTrain's tiny
    * centroid cut; at 100 TB this materialization is the persisted
    * token-stream artifact every distributed BPE trainer carries between
    * merges, e.g. the re-encoded corpus shards).
    *
    * Positions are RE-NUMBERED dense (row_number per doc) after every
    * rewrite so the next iteration's greedy-overlap islands can again
    * read adjacency as `j − lag(j) = 1` — after a merge consumes j+1,
    * raw positions have holes and position-difference no longer means
    * stream-adjacency ([[bpeStep2]] never needed this because its second
    * iteration only re-counts).
    *
    * Returns `iters` rows: (it, a, b, pair_n) — the merge table, the
    * actual artifact a BPE trainer emits. */
  def bpeTrain(docs: DataFrame, iters: Int): DataFrame =
    bpeLoop(docs, iters, rewriteAll = false)._1

  /** The trained tokenizer APPLIED (`bpe_apply`): run the same `iters`
    * count→merge→rewrite loop but rewrite after the LAST merge too, then
    * emit the top-k token frequencies of the final stream — the artifact
    * a training pipeline actually ships (the corpus re-tokenized under
    * the induced vocabulary), completing the train→apply symmetry the
    * quantizer family already has (kmeans_train → similar_ivf_trained,
    * pq_train → similar_pq_trained). Merged tokens surface in the ranking
    * exactly when their pair count beats a surviving unigram's.
    *
    * Input: the already-rewritten token stream (array form, see
    * [[bpeLoop]]) that [[bpeLoopShared]] returns — the cross-query
    * sharing tail. */
  private[graft] def bpeApplyFromStream(tok: DataFrame, k: Int = 30): DataFrame = {
    val w = Window.orderBy(desc("tf"), col("tok"))
    tok.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), col("tok")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("tok"), col("tf"))
  }

  /** ONE count→merge→rewrite loop serving BOTH `bpe_train` (the merge
    * table) and `bpe_apply` (the final stream) in a Verify/Bench session
    * (Caching.sessionMemo at the query layer): under `rewriteAll` the
    * merge table is IDENTICAL to [[bpeTrain]]'s — the last rewrite only
    * changes the returned stream, never a merge row — so sharing the loop
    * saves a full `iters`-round training pass. The memoized stream is
    * corpus-sized, but the loop already materializes it per round
    * (lineage cut); the memo just keeps the LAST round's copy. */
  private[graft] def bpeLoopShared(docs: DataFrame,
                                   iters: Int): (DataFrame, DataFrame) =
    bpeLoop(docs, iters, rewriteAll = true)

  /** Greedy leftmost-first merge of every non-overlapping adjacent
    * (a, b) occurrence inside ONE token array — the map-side kernel of
    * [[bpeLoop]] (r15). Semantics are EXACTLY the island/parity rule of
    * the exploded-stream form ([[bpeStep]]'s `rk % 2 = 1`): within a
    * maximal run of consecutive occurrences the 1st, 3rd, ... merge and
    * the occurrence sandwiched behind a selected merge is skipped —
    * which is precisely "select an occurrence unless the previously
    * selected one sits at the immediately preceding position", the
    * left-to-right fold below. All three passes are array expressions
    * over the doc's own tokens: no shuffle, no window, no join touches
    * the corpus during a rewrite.
    *
    * Cost shape: the occurrence probe is O(n) per doc with O(1)
    * element_at; the fold runs over the (typically empty) occurrence
    * list only; docs with no occurrence short-circuit to the untouched
    * input array. */
  private def mergeAdjacent(toks: Column, a: Column, b: Column): Column = {
    val n = size(toks)
    // 1-based positions p with (toks[p], toks[p+1]) = (a, b); a
    // post-merge 1-token doc must not enter sequence(1, 0) (which would
    // DESCEND), hence the n >= 2 guard
    val occ = when(n >= 2,
      filter(sequence(lit(1), n - 1), p =>
        element_at(toks, p) === a && element_at(toks, p + 1) === b))
      .otherwise(array().cast("array<int>"))
    // greedy selection over the occurrence list: drop an occurrence
    // whose predecessor position was selected (its merge consumed this
    // occurrence's first token) — the island-parity rule as a fold
    val sel = aggregate(occ,
      struct(array().cast("array<int>").as("m"), lit(-9).as("last")),
      (acc, p) => when(p === acc.getField("last") + 1, acc)
        .otherwise(struct(concat(acc.getField("m"), array(p)).as("m"),
          p.as("last"))),
      acc => acc.getField("m"))
    // rewrite: position i emits the merged token when selected, nothing
    // when consumed by the selection at i-1, its own token otherwise
    val kept = filter(sequence(lit(1), n),
      i => !array_contains(sel, i - 1))
    val out = transform(kept, i =>
      when(array_contains(sel, i), concat(a, b))
        .otherwise(element_at(toks, i)))
    when(size(occ) === 0, toks).otherwise(out)
  }

  /** Shared BPE trainer loop; returns (merge table, final token stream —
    * ARRAY form, one (doc_id, toks) row per doc). `rewriteAll = false`
    * skips the rewrite after the last merge (the merge table is then
    * complete and the final stream is one merge behind — [[bpeTrain]]'s
    * historical contract); `true` rewrites every round so the returned
    * stream reflects all `iters` merges.
    *
    * r15 shape: the token stream lives as ONE ARRAY ROW PER DOC for the
    * whole loop. The exploded-stream form paid, per iteration, a full
    * shuffle+sort of the corpus for the adjacency window, a second
    * window pass to re-number positions, three joins to splice the merge
    * in, and a corpus-sized checkpoint of token ROWS — all to express
    * "merge adjacent pairs inside each doc", a per-doc-local operation.
    * In array form an iteration is: one map-side pair explode feeding a
    * partially-aggregated count (the only exchange, carrying (a, b,
    * partial n) rows), the 1-row argmax, and a MAP-ONLY rewrite
    * ([[mergeAdjacent]]) followed by the same lineage-cut checkpoint,
    * now over doc-count rows. Quiet r15: bpe_apply's memoized loop build
    * 5.5 s → ~1 s; at 100 TB the win is the same two corpus shuffles
    * per merge round that no longer exist (the persisted artifact
    * between rounds is the re-encoded corpus shards either way). */
  private def bpeLoop(docs: DataFrame, iters: Int,
                      rewriteAll: Boolean): (DataFrame, DataFrame) = {
    require(iters >= 1, "bpeTrain needs at least one iteration")
    var tok = PairPlan.fanOut(docs)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .localCheckpoint(true)
    val merges = Seq.newBuilder[DataFrame]
    for (it <- 1 to iters) {
      val willRewrite = rewriteAll || it < iters
      // the 1-row merge decision is frozen eagerly: the rewrite below
      // and the final merge-table union both read it without re-counting
      val top = tok.select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("pair_n"))
        .orderBy(desc("pair_n"), col("a"), col("b")).limit(1)
        .localCheckpoint(true)
      merges += top.select(lit(it.toLong).as("it"),
        col("a"), col("b"), col("pair_n"))
      if (willRewrite)
        tok = tok.crossJoin(broadcast(top.select(col("a"), col("b"))))
          .select(col("doc_id"),
            mergeAdjacent(col("toks"), col("a"), col("b")).as("toks"))
          .localCheckpoint(true)
    }
    (merges.result().reduce(_ union _), tok)
  }

  /** Chained-CTE dual of [[bpeTrain]]: s0 = the exploded token stream,
    * then per iteration i the (pr → top → occ → islands → parity-merge →
    * rewrite → dense renumber) chain, UNION ALL of the tops at the end.
    * Same island/parity/tie-break rules as [[bpeStep2Sql]]. */
  def bpeTrainSql(table: String, iters: Int): String =
    bpeChainSql(table, iters, rewriteAll = false) +
      (1 to iters).map(i =>
        s"\nSELECT CAST($i AS BIGINT) AS it, a, b, pair_n FROM top$i")
        .mkString("", "\nUNION ALL", "")

  /** SQL dual of [[bpeApplyFromStream]]: the same chain with the LAST rewrite
    * included, then the final stream's top-k token frequencies. */
  def bpeApplySql(table: String, iters: Int, k: Int = 30): String =
    bpeChainSql(table, iters, rewriteAll = true) + s"""
       |SELECT CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank,
       |       tok, tf
       |FROM (SELECT tok, count(*) AS tf FROM s$iters GROUP BY tok
       |      ORDER BY tf DESC, tok LIMIT $k)""".stripMargin

  /** Shared WITH-chain of the BPE loop (see [[bpeLoop]] for the
    * `rewriteAll` contract). Every CTE is MATERIALIZED: the stream tables
    * are referenced twice per round (pair scan + rewrite) and top$i three
    * times (merge row, occurrence join, two scalar subqueries) — DuckDB's
    * default inlining re-executes the upstream chain per reference, which
    * at 4 rounds with the final rewrite included exhausted memory at
    * sf0.1 (the LinkRank.ranksConvSql lesson; results are identical). */
  private def bpeChainSql(table: String, iters: Int,
                          rewriteAll: Boolean): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH tt AS MATERIALIZED (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
       |t2 AS MATERIALIZED (SELECT doc_id, toks FROM tt WHERE len(toks) >= 2),
       |s0 AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS j, toks[i] AS tok
       |       FROM t2, unnest(generate_series(1, len(toks))) AS u(i))""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
       |pr$i AS MATERIALIZED (SELECT doc_id, j, tok,
       |          lead(tok) OVER (PARTITION BY doc_id ORDER BY j) AS nxt
       |        FROM s$p),
       |top$i AS MATERIALIZED (SELECT tok AS a, nxt AS b, count(*) AS pair_n
       |         FROM pr$i WHERE nxt IS NOT NULL
       |         GROUP BY 1, 2 ORDER BY pair_n DESC, a, b LIMIT 1)""".stripMargin
      if (rewriteAll || i < iters) sb ++= s""",
       |occ$i AS MATERIALIZED (SELECT pr.doc_id, pr.j FROM pr$i pr JOIN top$i t
       |           ON pr.tok = t.a AND pr.nxt = t.b),
       |br$i AS MATERIALIZED (SELECT doc_id, j,
       |         CASE WHEN lag(j) OVER w IS NULL OR j - lag(j) OVER w > 1
       |              THEN 1 ELSE 0 END AS brk
       |       FROM occ$i WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
       |il$i AS MATERIALIZED (SELECT doc_id, j,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY j
       |                        ROWS UNBOUNDED PRECEDING) AS isl
       |       FROM br$i),
       |m$i AS MATERIALIZED (SELECT doc_id, j AS mj FROM (
       |        SELECT doc_id, j, isl,
       |          row_number() OVER (PARTITION BY doc_id, isl ORDER BY j) AS rk
       |        FROM il$i) WHERE rk % 2 = 1),
       |ns$i AS MATERIALIZED (SELECT ts.doc_id, ts.j,
       |         CASE WHEN m1.mj IS NOT NULL
       |              THEN (SELECT a FROM top$i) || (SELECT b FROM top$i)
       |              ELSE ts.tok END AS tok
       |       FROM s$p ts
       |       LEFT JOIN m$i m1 ON m1.doc_id = ts.doc_id AND m1.mj = ts.j
       |       LEFT JOIN m$i m2 ON m2.doc_id = ts.doc_id AND m2.mj + 1 = ts.j
       |       WHERE m2.mj IS NULL),
       |s$i AS MATERIALIZED (SELECT doc_id,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY j) AS BIGINT) AS j,
       |         tok
       |       FROM ns$i)""".stripMargin
    }
    sb.toString
  }

  /** PII detection + redaction — the compliance pass every released
    * training corpus runs (emails, IP addresses, phone numbers scrubbed
    * before the data ships). Pattern classes are deliberately simple
    * ASCII regexes that parse identically in Java regex (Spark codegen'd
    * `regexp_replace`/`regexp_count`) and RE2 (DuckDB): no lookarounds, no
    * word boundaries, greedy quantifiers whose leftmost match agrees
    * between backtracking and leftmost-longest engines on these shapes.
    * Map-only per row — the 100 TB plan is pure input-split parallelism,
    * like every other scan in this file. */
  val EmailRe = "[a-z0-9]+@[a-z0-9.]+\\.com"
  val Ipv4Re = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
  val PhoneRe = "555-[0-9]{4}"

  /** Per-doc PII report: category match counts on the ORIGINAL text plus
    * the post-redaction length (matches replaced by `<EMAIL>`/`<IP>`/
    * `<PHONE>` in that order; the classes are disjoint by construction so
    * order only matters for determinism). Callers aggregate. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>"))
    docs.select(col("doc_id"), col("lang"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
      length(col("text")).cast("long").as("len_raw"),
      length(scrubbed).cast("long").as("len_scrubbed"))
  }

  /** Flat K-way MERGE of Misra–Gries summaries — the mergeable-summaries
    * reduction (Agarwal/Cormode/Huang/Phillips/Wei/Yi, PODS'12): sum the
    * per-shard counters pointwise, subtract the (m+1)-th largest combined
    * count δ from every counter, drop the non-positive remainder. At most
    * m counters survive (only entries strictly above δ remain, and only m
    * can exceed the (m+1)-th largest).
    *
    * The merged summary keeps the ONE-SHOT error theorem, est ≤ f and
    * f − est ≤ N/(m+1) over the UNION stream of size N: each shard i
    * satisfies f_i − est_i ≤ d_i with d_i ≤ (N_i − M_i)/(m+1) (M_i = its
    * retained mass), the pointwise sum inherits Σd_i, and the m+1 entries
    * ≥ δ give δ·(m+1) ≤ C (the combined retained mass), so the total
    * undercount is ≤ (N − ΣM_i)/(m+1) + C/(m+1) = N/(m+1) since C = ΣM_i.
    * This is the associativity the reference assumes of every
    * `binary_reduce` partial state (reference README.md:24-33), proved for
    * the sketch whose merge DISCARDS mass.
    *
    * Input: one row per shard with a map<string,long> column `mg` (the
    * [[graft.functions.GraftAggs.mgSketch]] output). Output: (token, est),
    * ≤ m rows. The combined table is ≤ K·m rows — the global rank window
    * is over sketch STATE, never data, so the single-partition window is
    * bounded at any corpus size. */
  def mgMergeFlat(summaries: DataFrame, m: Int): DataFrame =
    mgCompressFlat(
      summaries.select(explode(col("mg")).as(Seq("token", "cnt"))), m)

  /** The flat-input half of [[mgMergeFlat]]: sum per-token counts of any
    * number of stacked summaries (each a set of (token, cnt) rows with
    * bounded MG error — exact counts qualify with error 0), then apply
    * the Misra–Gries compress (subtract the (m+1)-th largest, drop ≤ 0).
    * The mergeable-summaries theorem (Agarwal et al. 2013) keeps the
    * total underestimate ≤ n/(m+1) across ANY merge tree — the property
    * the streamed sketch ([[graft.streaming.StreamingOps.mgStream]])
    * banks on. Output ≤ m rows; the rank window is over summary state,
    * never data. */
  def mgCompressFlat(flat: DataFrame, m: Int): DataFrame = {
    val combined = flat.groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
    val ranked = combined.withColumn(
      "r", row_number().over(Window.orderBy(desc("cnt"), col("token"))))
    val delta = ranked.agg(
      coalesce(max(when(col("r") === m + 1, col("cnt"))), lit(0L)).as("delta"))
    ranked.crossJoin(broadcast(delta))
      .select(col("token"), (col("cnt") - col("delta")).as("est"))
      .filter(col("est") > lit(0L))
  }
}
