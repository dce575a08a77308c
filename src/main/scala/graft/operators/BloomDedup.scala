package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** BLOOM-FILTER membership index for ingest dedup — the cheapest possible
  * first-pass filter in front of the LSH index: the whole existing corpus
  * is summarized into a fixed-size bitmap (here 2¹⁶ bits = 8 KB; production
  * sizes M from the expected key count), and an arriving batch tests
  * membership with K=4 bit probes per document — a broadcast join against
  * ≤ M/32 bitmap words, map-only on the batch side, no corpus access at
  * all on the hot path.
  *
  * The false-positive rate is MEASURED, not claimed: the batch's exact
  * fingerprints are joined against the corpus fingerprint set (the
  * measurement pass a production system samples rather than runs in
  * full), and the per-lang report carries flagged / true-dup /
  * false-positive counts side by side.
  *
  * Determinism: bit positions come from Kirsch–Mitzenmacher double
  * hashing over the md5 stream ([[VecOps.hashPair]]: h_j = h1 mod 2⁵⁸ +
  * j·(h2 mod 2⁵⁴), j < K, then mod M) — pure integer ops, identical in
  * DuckDB; bitmap words pack 32 bits per LONG so `1 << bit` never touches
  * the sign bit in either engine.
  */
object BloomDedup {

  /** probes per key. */
  val K = 4

  /** filter size in bits (2¹⁶); 32 bits packed per bitmap word. */
  val MBits = 1L << 16

  /** K probe positions for a normalized-text key. */
  private def positions(key: Column): Column = {
    val hp = VecOps.hashPair(key)
    val h1 = hp.getItem(0) % lit(VecOps.DhM1)
    val h2 = hp.getItem(1) % lit(VecOps.DhM2)
    transform(sequence(lit(0), lit(K - 1)),
      j => (h1 + j.cast("long") * h2) % lit(MBits))
  }

  private def withPos(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      md5(TextOps.normText(col("text")).cast("binary")).as("fp"),
      explode(positions(TextOps.normText(col("text")))).as("pos"))

  /** Pack a (pos) set into the 32-bits-per-LONG membership bitmap. */
  private def packBitmap(positions: DataFrame): DataFrame =
    positions
      .select(expr("pos div 32").as("word"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bm"))

  /** Per-lang ingest report: batch size, Bloom-flagged count, true exact
    * dups, false positives, and the measured FPR. `corpus` and `batch`
    * must expose (doc_id, lang, text). */
  def bloomAdmit(corpus: DataFrame, batch: DataFrame): DataFrame =
    admitReport(packBitmap(withPos(corpus)),
      corpus.select(md5(TextOps.normText(col("text")).cast("binary")).as("cfp"))
        .distinct(),
      batch)

  /** The shared admit flow: probe `batch` against a prebuilt membership
    * `bitmap` (word, bm), measure truth against the exact corpus
    * fingerprint set `corpusFps` (cfp). */
  private def admitReport(bitmap: DataFrame, corpusFps: DataFrame,
                          batch: DataFrame): DataFrame = {
    val perDoc = withPos(batch)
      .withColumn("word", expr("pos div 32"))
      .join(broadcast(bitmap), Seq("word"), "left")
      .select(col("doc_id"), col("lang"), col("fp"),
        when(coalesce(col("bm"), lit(0L))
          .bitwiseAND(expr("shiftleft(1L, cast(pos % 32 as int))")) =!= 0, 1L)
          .otherwise(0L).as("hit"))
      .groupBy(col("doc_id"), col("lang"), col("fp"))
      .agg((sum(col("hit")) === K).as("flagged"))
    perDoc.join(corpusFps, col("fp") === col("cfp"), "left")
      .select(col("lang"), col("flagged"), col("cfp").isNotNull.as("is_dup"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("flagged") && !col("is_dup"), 1L).otherwise(0L))
          .as("n_false_pos"))
      .withColumn("fpr", VecOps.qround(
        col("n_false_pos").cast("double") /
          greatest(col("n_batch") - col("n_true_dup"), lit(1L)).cast("double"),
        6))
  }

  /** COUNTING-Bloom RETRACTION — the state that CAN honor a takedown.
    * A plain Bloom bitmap is a monoid without an inverse (bit_or forgets
    * multiplicity — `dedup_clusters_retract`'s doc lists it as the sibling
    * state that must REBUILD); the counting Bloom replaces each bit with a
    * counter, making the state a GROUP under cell-wise +: retraction is
    * cnt −= batch's probe counts, exact by linearity, never a corpus
    * rescan. Membership = (cnt > 0), identical to the bitmap's by
    * construction.
    *
    * The graded query decrements the full-corpus counting cells by the
    * removed batch's probes, derives the membership bitmap from the
    * survivors' cells, and runs the standard admit report against it —
    * re-submissions of REMOVED docs must now clear admission (flagged only
    * at the measured FPR; a stale bitmap would flag all of them).
    * `retract_exact` grades the group law itself: the decremented cell
    * table must equal, cell for cell, the counting filter rebuilt from
    * scratch on corpus∖removed (a ≤ 2¹⁶-row symmetric difference — sketch
    * state, never data). At 100 TB the cells are 2¹⁶ LONGs however large
    * the corpus; the decrement batch rides one broadcast. */
  def bloomRetract(corpus: DataFrame, removed: DataFrame,
                   batch: DataFrame): DataFrame = {
    val cells = withPos(corpus).groupBy(col("pos")).agg(count(lit(1)).as("cnt"))
    val dec = withPos(removed).groupBy(col("pos")).agg(count(lit(1)).as("dcnt"))
    val cells2 = cells.join(broadcast(dec), Seq("pos"), "left")
      .select(col("pos"), (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0L)
    val survivors = corpus.join(removed.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val rebuilt = withPos(survivors)
      .groupBy(col("pos")).agg(count(lit(1)).as("cnt"))
    val parity = cells2.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(cells2))
      .agg((count(lit(1)) === 0L).as("retract_exact"))
    val corpusFps = survivors
      .select(md5(TextOps.normText(col("text")).cast("binary")).as("cfp"))
      .distinct()
    admitReport(packBitmap(cells2.select(col("pos"))), corpusFps, batch)
      .crossJoin(broadcast(parity))
  }

  /** DuckDB oracle dual of [[bloomRetract]]: corpus = even docs, removed =
    * every 10th even doc, batch = the same arrival mix as [[oracleSql]] —
    * the report recomputed FROM SCRATCH on corpus∖removed (linearity makes
    * the decremented filter identical), `retract_exact` pinned TRUE. */
  def retractOracleSql(table: String): String = {
    def posCte(src: String) =
      s"""SELECT doc_id, lang, md5(${TextOps.normTextSql("text")}) AS fp,
         |  unnest(list_transform(generate_series(0, ${K - 1}),
         |    j -> (hp[1] % ${VecOps.DhM1} + j * (hp[2] % ${VecOps.DhM2})) % $MBits)) AS pos
         |FROM (SELECT doc_id, lang, text,
         |        ${VecOps.hashPairSql(TextOps.normTextSql("text"))} AS hp
         |      FROM $src)""".stripMargin
    s"""WITH corpus AS (SELECT * FROM $table
       |                WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0),
       |batch AS (SELECT * FROM $table WHERE doc_id % 2 = 1 OR doc_id % 20 = 0),
       |cpos AS (${posCte("corpus")}),
       |bm AS (SELECT pos // 32 AS word,
       |         bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bm
       |       FROM cpos GROUP BY 1),
       |bpos AS (${posCte("batch")}),
       |hits AS (SELECT doc_id, lang, fp,
       |           CASE WHEN bm.bm IS NOT NULL AND
       |             (bm.bm & (1::BIGINT << CAST(pos % 32 AS INTEGER))) <> 0
       |           THEN 1 ELSE 0 END AS hit
       |         FROM bpos LEFT JOIN bm ON bm.word = bpos.pos // 32),
       |pd AS (SELECT doc_id, lang, fp, sum(hit) = $K AS flagged
       |       FROM hits GROUP BY doc_id, lang, fp),
       |cf AS (SELECT DISTINCT md5(${TextOps.normTextSql("text")}) AS cfp
       |       FROM corpus)
       |SELECT lang, count(*) AS n_batch,
       |  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(CASE WHEN cfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       |  CAST(sum(CASE WHEN flagged AND cfp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       |  ${VecOps.qroundSql(
            s"""sum(CASE WHEN flagged AND cfp IS NULL THEN 1 ELSE 0 END)::DOUBLE /
               | greatest(count(*) - sum(CASE WHEN cfp IS NOT NULL THEN 1 ELSE 0 END), 1)::DOUBLE""".stripMargin,
            6)} AS fpr,
       |  TRUE AS retract_exact
       |FROM pd LEFT JOIN cf ON cf.cfp = pd.fp
       |GROUP BY lang""".stripMargin
  }

  /** DuckDB oracle dual of [[bloomAdmit]] over the parity split of `table`
    * (even = corpus; batch = odd new docs plus every 20th corpus doc
    * re-submitted — guaranteed true dups at any SF). */
  def oracleSql(table: String): String = {
    def posCte(src: String) =
      s"""SELECT doc_id, lang, md5(${TextOps.normTextSql("text")}) AS fp,
         |  unnest(list_transform(generate_series(0, ${K - 1}),
         |    j -> (hp[1] % ${VecOps.DhM1} + j * (hp[2] % ${VecOps.DhM2})) % $MBits)) AS pos
         |FROM (SELECT doc_id, lang, text,
         |        ${VecOps.hashPairSql(TextOps.normTextSql("text"))} AS hp
         |      FROM $src)""".stripMargin
    s"""WITH corpus AS (SELECT * FROM $table WHERE doc_id % 2 = 0),
       |batch AS (SELECT * FROM $table WHERE doc_id % 2 = 1 OR doc_id % 20 = 0),
       |cpos AS (${posCte("corpus")}),
       |bm AS (SELECT pos // 32 AS word,
       |         bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bm
       |       FROM cpos GROUP BY 1),
       |bpos AS (${posCte("batch")}),
       |hits AS (SELECT doc_id, lang, fp,
       |           CASE WHEN bm.bm IS NOT NULL AND
       |             (bm.bm & (1::BIGINT << CAST(pos % 32 AS INTEGER))) <> 0
       |           THEN 1 ELSE 0 END AS hit
       |         FROM bpos LEFT JOIN bm ON bm.word = bpos.pos // 32),
       |pd AS (SELECT doc_id, lang, fp, sum(hit) = $K AS flagged
       |       FROM hits GROUP BY doc_id, lang, fp),
       |cf AS (SELECT DISTINCT md5(${TextOps.normTextSql("text")}) AS cfp
       |       FROM corpus)
       |SELECT lang, count(*) AS n_batch,
       |  CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(CASE WHEN cfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       |  CAST(sum(CASE WHEN flagged AND cfp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       |  ${VecOps.qroundSql(
            s"""sum(CASE WHEN flagged AND cfp IS NULL THEN 1 ELSE 0 END)::DOUBLE /
               | greatest(count(*) - sum(CASE WHEN cfp IS NOT NULL THEN 1 ELSE 0 END), 1)::DOUBLE""".stripMargin,
            6)} AS fpr
       |FROM pd LEFT JOIN cf ON cf.cfp = pd.fp
       |GROUP BY lang""".stripMargin
  }
}
