package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** Waste of the binned interval joins: those `graft.operators.RangeJoin`
  * builds (`__bin`, `__lbin`, `__rbin`) and those `BinnedIntervalJoinRule`
  * plans (`__graft_bin`). For each such join in a result's optimized
  * plan it counts the (point, interval) pairs the equi-keys, bin
  * included, emit and the pairs the residual interval predicate keeps.
  * Runs both as extra jobs, so the traced run calls it only outside
  * every timed span. Turning a rewritten logical plan back into a
  * DataFrame needs the non-public `classic.Dataset.ofRows`, hence this
  * object's package. */
object PerfbenchJoins extends PredicateHelper {
  private val BinCols = Set("__bin", "__lbin", "__rbin", "__graft_bin")

  def binnedJoinCounts(df: DataFrame): Seq[(Long, Long)] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    def rows(p: LogicalPlan): Long = classic.Dataset.ofRows(spark, p).count()
    df.queryExecution.optimizedPlan.collect {
      case Join(left, right, _, Some(cond), hint)
          if cond.references.exists(a => BinCols(a.name)) =>
        def within(e: Expression, side: LogicalPlan) =
          e.references.nonEmpty && e.references.subsetOf(side.outputSet)
        val equi = splitConjunctivePredicates(cond).filter {
          case EqualTo(a, b) =>
            (within(a, left) && within(b, right)) || (within(a, right) && within(b, left))
          case _ => false
        }
        (rows(Join(left, right, Inner, equi.reduceOption(And), hint)),
          rows(Join(left, right, Inner, Some(cond), hint)))
    }
  }
}
