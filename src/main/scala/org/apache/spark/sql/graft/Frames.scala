package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The two `private[sql]` Spark calls the engine needs, which is why this
  * shim lives under the `org.apache.spark.sql` package.
  */
object Frames {

  /** A DataFrame over `rdd`, which must compute exactly `like`'s rows
    * (same schema). It carries `like`'s size estimate, so downstream
    * planning sees the same statistics as over `like` itself — what
    * `Dataset.localCheckpoint` does for its checkpointed RDD.
    */
  def sameRowsAs(like: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val ds = like.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }

  /** `schema` with every field, element and value nullable — the data
    * schema Spark gives a file relation read with a supplied schema.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
