package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** The composed PQ codebook trainer: proves the loop is a genuine
  * composition of the single step (iters=1 ≡ pqStep), that iterating
  * MOVES the codebook (not a fixed point on the fixture), that counts
  * conserve (every vector contributes exactly one subvector per
  * subspace, every iteration), and k-means' defining invariant — the
  * total quantization error of the assignment is non-increasing across
  * iterations (each re-assign picks a nearer code, each re-mean is the
  * L2-optimal cell center; the 1e-4 cell quantization can only perturb
  * the objective below that grid).
  */
class PqTrainSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, dir)
  private def kv = emb.select(col("vec_id").as("k_id"), col("vec").as("kvec"))
  private def seed = Pq.codebook(emb)

  /** The codebook after `iters` training iterations, in the (m, j, cvec)
    * shape `Pq.encode` and `Pq.adcTopK` consume. */
  private def trainedCodebook(kv: org.apache.spark.sql.DataFrame,
                              seed: org.apache.spark.sql.DataFrame, iters: Int) =
    Pq.codebookFromStep(Pq.pqTrain(kv, seed, iters))

  test("pqTrain(iters=1) == pqStep (the loop composes the graded step)") {
    val one = Pq.pqTrain(kv, seed, 1)
    val step = Pq.pqStep(kv, seed)
    assert(one.exceptAll(step).isEmpty && step.exceptAll(one).isEmpty)
  }

  test("training moves the codebook, and counts conserve every iteration") {
    val st1 = Pq.pqTrain(kv, seed, 1)
    val st3 = Pq.pqTrain(kv, seed, 3)
    assert(st3.exceptAll(st1).count() > 0,
      "three iterations produced exactly the seed-step cells — loop is a no-op")
    val nVec = kv.count()
    for ((st, it) <- Seq((st1, 1), (st3, 3))) {
      // each (m, sp) slice partitions the corpus across codes
      val perSlice = st.groupBy(col("m"), col("sp"))
        .agg(sum(col("n")).as("tot")).select(col("tot")).distinct().collect()
      assert(perSlice.length == 1 && perSlice.head.getLong(0) == nVec,
        s"iteration $it: per-(m,sp) counts ${perSlice.mkString(",")} != $nVec")
    }
  }

  test("total quantization error is non-increasing across iterations") {
    def err2(cb: org.apache.spark.sql.DataFrame): Double =
      Pq.encode(kv, cb).agg(sum(col("err2"))).head().getDouble(0)
    val e0 = err2(seed)
    val e1 = err2(trainedCodebook(kv, seed, 1))
    val e3 = err2(trainedCodebook(kv, seed, 3))
    val grid = 1e-2 // 1e-4 cell quantization can shift sums below this
    assert(e1 <= e0 + grid, s"iteration 1 raised the objective: $e0 -> $e1")
    assert(e3 <= e1 + grid, s"iterations 2-3 raised the objective: $e1 -> $e3")
  }

  test("trained codebook keeps the (m, j, cvec) contract encode consumes") {
    val cb = trainedCodebook(kv, seed, 2)
    val dims = cb.select(size(col("cvec"))).distinct().collect().map(_.getInt(0))
    assert(dims.sameElements(Array(Pq.S)), s"cell dims ${dims.mkString(",")}")
    assert(cb.select(col("m")).distinct().count() == Pq.M)
  }
}
