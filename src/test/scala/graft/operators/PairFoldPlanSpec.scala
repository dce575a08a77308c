package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.MatrixQueries

/** The merges of entropy's, xentropy's and the sampler's tile partials
  * have primitive buffers only, so they must plan as `HashAggregateExec`.
  * A `TypedImperativeAggregate` added to the same `.agg(...)` would
  * silently turn the whole merge into an `ObjectHashAggregateExec` (or a
  * struct buffer into a `SortAggregate`); this guard catches it under
  * both `PairPlan` arms, and checks that the arms return identical rows. */
class PairFoldPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val arms = Seq(PairPlan.Broadcast, PairPlan.Blocked)

  /** Every aggregate grouped by the pair stream's m_id, after execution. */
  private def pairFolds(df: DataFrame): Seq[BaseAggregateExec] =
    collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec
          if a.groupingExpressions.exists(_.references.exists(_.name == "m_id")) => a
    }

  for (kernel <- Seq("entropy", "xentropy", "sampler")) {
    test(s"$kernel folds the pair stream in HashAggregate under both arms, " +
        "with identical rows") {
      val rows = arms.map { mode =>
        val df = MatrixQueries.modalKernels(kernel)(spark, dir, mode)
        val out = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Number].longValue).toSeq
        val folds = pairFolds(df)
        assert(folds.nonEmpty, s"$kernel/$mode: no m_id aggregate in\n" +
          df.queryExecution.executedPlan)
        assert(folds.forall(_.isInstanceOf[HashAggregateExec]),
          s"$kernel/$mode: pair fold left HashAggregate:\n" +
            folds.map(_.nodeName).mkString(", "))
        out
      }
      assert(rows.head.nonEmpty)
      assert(rows.head == rows.last)
    }
  }
}
