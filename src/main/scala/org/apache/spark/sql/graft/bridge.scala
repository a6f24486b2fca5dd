package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Column↔Expression converters so graft's native
  * Catalyst expressions (`graft.functions.VecDot`) can surface as Columns,
  * and into `Dataset.ofRows`, which `graft.plans.Iterate.pin` uses to
  * re-root a checkpoint. Lives under `org.apache.spark.sql` purely for
  * access; no Spark internals are modified. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame whose plan root is a scan of `rdd` under `output`, with
    * no partitioning, ordering or size estimate carried over — the plan
    * `createDataFrame(rdd, schema)` builds, minus the row conversion it
    * wraps around `rdd`, so the root reads `rdd` itself. */
  def frameOver(session: SparkSession, output: Seq[Attribute],
      rdd: RDD[InternalRow]): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd)(s))
  }
}
