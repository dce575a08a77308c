package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Benchmark decontamination — the training-corpus hygiene step every LLM
  * pipeline runs before training: flag (and drop) training documents that
  * share any word-level n-gram with a held-out evaluation set, so test
  * material cannot leak into the training corpus.
  *
  * Spark-first shape, sized for 100 TB of training text against a tiny
  * (MB-scale) eval set:
  *   1. eval side → distinct 60-bit hashes of its n-gram shingles — small
  *      by construction (benchmarks are thousands of documents, not
  *      billions), so it BROADCASTS;
  *   2. train side → explode shingle hashes (map-only, scales with corpus
  *      bytes), LEFT join the broadcast eval set — no shuffle of the big
  *      side at all;
  *   3. one partial-aggregated groupBy(doc_id) counts matched positions —
  *      the only shuffle in the plan, map-side combined.
  *
  * The reference has no corpus tooling (its types are float matrices —
  * SURVEY.md §2.5); this extends the same hash-stream determinism machinery
  * (VecOps.hash60) used by the dedup family, so the result is
  * hash-comparable against the DuckDB oracle.
  */
object Decontaminate {

  /** Shingle width in tokens. 8-grams is the common decontamination window
    * (wide enough that shared idioms don't flag, narrow enough to catch
    * verbatim leakage). */
  val N = 8

  /** 60-bit hashes of the doc's word-level N-gram shingles; documents
    * shorter than N tokens contribute their single full-text shingle.
    * Codegen'd native kernel (VERDICT r5 #7: the interpreted
    * `transform`+hash60 HOF made `curate` the one 10×-replica stage whose
    * cost tracked data — same interpreter-overhead profile the minhash and
    * simhash kernels already shed). Bit-identical to the previous
    * `transform(sequence(1, greatest(n-${N - 1}, 1)),
    * i -> hash60(concat_ws(' ', slice(toks, i, $N))))` form. */
  private def shingleHashes(toks: org.apache.spark.sql.Column) =
    graft.functions.NativeExprs.ngramHashes(toks, N)

  /** For every training document (`doc_id % evalMod != 0`): the number of
    * shingle positions whose hash appears in the eval slice
    * (`doc_id % evalMod == 0`), and the keep/drop flag. */
  def flag(docs: DataFrame, evalMod: Int = 41): DataFrame =
    // fan the scan out before the tokenize+md5 shingle kernel — same
    // few-splits guard as every other corpus-linear kernel (Dedup.fanOut):
    // no-op on a many-split cluster, keeps the per-byte work off 1-2 cores
    // on compacted/fixture inputs (VERDICT r5 #7: `curate` was the one
    // 10×-replica stage without it, and the one superlinear ratio)
    flagFromToks(
      PairPlan.fanOut(docs)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      evalMod)

  /** [[flag]] over an already-tokenized (doc_id, toks) corpus — the
    * shared-tokenize entry composed pipelines feed from one cached
    * fanned-out tokenize (see TextOps.textQualityFromToks). */
  def flagFromToks(tokd: DataFrame, evalMod: Int = 41): DataFrame = {
    val sh = tokd
      .select(col("doc_id"), explode(shingleHashes(col("toks"))).as("sh"))
    val evalSet = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("sh").as("eh")).distinct()
    sh.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalSet), col("sh") === col("eh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("eh")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** The oracle's CTE chain (shingle hashes, eval set, train slice) —
    * exposed separately so composed pipelines (CurationQueries) can embed
    * it in a larger WITH clause. */
  def flagCtes(table: String, evalMod: Int = 41): String =
    s"""t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks FROM $table),
       |sh AS (SELECT doc_id,
       |         unnest(list_transform(
       |           generate_series(1, greatest(len(toks) - ${N - 1}, 1)),
       |           i -> ${VecOps.hash60Sql(s"array_to_string(toks[i:i+${N - 1}], ' ')")})) AS sh
       |       FROM t),
       |ev AS (SELECT DISTINCT sh AS eh FROM sh WHERE doc_id % $evalMod = 0),
       |tr AS (SELECT * FROM sh WHERE doc_id % $evalMod <> 0)""".stripMargin

  /** The oracle's final select over [[flagCtes]]'s names. */
  val flagSelect: String =
    """SELECT tr.doc_id, count(ev.eh) AS n_hits, count(ev.eh) > 0 AS contaminated
      |FROM tr LEFT JOIN ev ON tr.sh = ev.eh
      |GROUP BY tr.doc_id""".stripMargin

  /** DuckDB oracle dual of [[flag]] (same shingles, same hash stream). */
  def flagSql(table: String, evalMod: Int = 41): String =
    s"WITH ${flagCtes(table, evalMod)}\n$flagSelect"
}
