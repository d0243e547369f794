package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Frames to and from driver-side rows in Spark's own row format, for the
  * walks' bounded in-memory finish (`graft.operators.Blocks.iterate`).
  * Catalyst rows keep strings as their exact UTF-8 bytes and skip the
  * encoder round trip that `collect()` and `createDataFrame` pay per
  * field; the frame constructor is private to Spark. */
object GraftAccess {

  /** The rows of `df`, run as one action like `collect()`. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** A local frame of `rows` under `schema`: names, types and nullability
    * exactly as given. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
