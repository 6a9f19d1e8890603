package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the `private[sql]` plan constructors `LogicalRDD.fromDataset`
  * and `Dataset.ofRows`.
  */
object PlanBridge {

  /** `df`'s rows behind a `LogicalRDD` leaf over its internal-row RDD:
    * the optimizer cannot see or push anything through the leaf, and no
    * row is converted to or from an external `Row` (the shape Spark's
    * own `ForeachBatchSink` uses). `df` is planned on this call; each
    * action on the result runs that plan again.
    */
  def barrier(df: DataFrame): DataFrame = {
    val ds = castToImpl(df)
    ClassicDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
