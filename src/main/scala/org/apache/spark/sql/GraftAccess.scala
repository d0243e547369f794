package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** The engine's entry points into Catalyst that Spark keeps private to
  * its own packages:
  *   - frames to and from driver-side rows in Spark's own row format, for
  *     the walks' bounded in-memory finish (`graft.operators.Blocks.iterate`).
  *     Catalyst rows keep strings as their exact UTF-8 bytes and skip the
  *     encoder round trip that `collect()` and `createDataFrame` pay per
  *     field;
  *   - the Column/Expression bridge through which the native kernels of
  *     `graft.functions` enter plans as expression nodes;
  *   - a frame over a DSv2 table value, for the catalog seal's scan;
  *   - the active session of a seal's write threads. */
object GraftAccess {

  /** A Column over a Catalyst expression tree. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression tree of a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame that scans `table` directly, with no catalog or provider. */
  def tableFrame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** The rows of `df`, run as one action like `collect()`. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** Run `fn` with `spark` as this thread's active session, so code that
    * reads `SQLConf.get` off a task thread sees the session's SQL conf. */
  def withActive[A](spark: SparkSession)(fn: => A): A = spark.withActive(fn)

  /** A local frame of `rows` under `schema`: names, types and nullability
    * exactly as given. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
