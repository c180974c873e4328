package org.apache.spark.sql

import scala.collection.immutable.HashSet

import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface needed to hang a custom
  * logical operator off a DataFrame — the standard pattern for
  * third-party Catalyst extensions (the public API deliberately has no
  * "wrap this LogicalPlan" entry point).
  */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      classic.ClassicConversions.castToImpl(spark), plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** `column IN values` as one `InSet` over `df`'s resolved attribute:
    * the public `isin` plants one literal per value and, below the
    * optimizer's conversion threshold, inlines them into generated code.
    * The generated code casts the set to its runtime class, so the set
    * is always a `HashSet` (Scala's 1- to 4-element sets are classes of
    * their own, and each would compile anew). `values` hold the column's
    * internal type (boxed longs for a long).
    */
  def inSet(df: DataFrame, column: String, values: Iterable[Any]): Column =
    classic.ExpressionUtils.column(InSet(
      classic.ClassicConversions.castToImpl(df).resolve(column), HashSet.from(values)))

  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = classic.ClassicConversions.castToImpl(spark).experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  def addOptimization(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = classic.ClassicConversions.castToImpl(spark).experimental
    if (!exp.extraOptimizations.contains(r)) {
      exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }
}
