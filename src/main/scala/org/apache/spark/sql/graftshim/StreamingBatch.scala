package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The one `private[sql]` bridge a DSv1 streaming Source needs: a
  * DataFrame returned by `Source.getBatch` must carry
  * `isStreaming = true` on its leaf plan (MicroBatchExecution asserts
  * it), but every public constructor builds batch-flagged plans.
  * Spark's own `FileStreamSource` solves this with
  * `sparkSession.internalCreateDataFrame(rdd, schema,
  * isStreaming = true)` — `private[sql]` API, which is why this object
  * lives under `org.apache.spark.sql`. Nothing outside this package (and
  * [[LocalParquet]], fetch's driver-side read) uses Spark internals.
  *
  * The WHOLE batch plan is compiled to one lazy RDD and that RDD
  * becomes the streaming leaf — flagging the original plan's own
  * leaves instead would make Catalyst plan its interior operators
  * (joins, exceptAll) as STATEFUL STREAMING operators, which is wrong
  * for a per-batch computation. `toRdd` is lazy: nothing executes
  * until the sink runs the micro-batch, so this wrapping costs no
  * extra pass over the data.
  */
object StreamingBatch {

  def asStreaming(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val qe = cdf.queryExecution
    val leaf = LogicalRDD(qe.analyzed.output, qe.toRdd,
      isStreaming = true)(cdf.sparkSession, None, None)
    classic.Dataset.ofRows(cdf.sparkSession, leaf)
  }

  /** Inverse, for TESTS that probe `Source.getBatch` results outside a
    * running MicroBatchExecution (which is the only engine allowed to
    * execute a streaming-flagged frame).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan = cdf.queryExecution.logical.transform {
      case r: LogicalRDD if r.isStreaming =>
        LogicalRDD(r.output, r.rdd, r.outputPartitioning, r.outputOrdering,
          isStreaming = false, r.stream)(cdf.sparkSession, None, None)
    }
    classic.Dataset.ofRows(cdf.sparkSession, plan)
  }
}
