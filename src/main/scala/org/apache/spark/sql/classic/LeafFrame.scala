package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** graft.Shared.leaf's door to the package-private `Dataset.ofRows`: a frame
  * over a `LogicalRDD` of `df`'s rows, with no origin stats and no output
  * partitioning (the leaf `createDataFrame(rdd, schema)` builds).
  */
object LeafFrame {
  def of(df: org.apache.spark.sql.DataFrame, rows: RDD[InternalRow]): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session, LogicalRDD(df.queryExecution.analyzed.output.map(_.newInstance()), rows)(session))
  }
}
