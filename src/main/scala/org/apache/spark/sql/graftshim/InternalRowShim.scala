package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge to the private[sql] `internalCreateDataFrame`: lets the
  * decode path emit Catalyst InternalRows directly (UTF8String /
  * micros-long / Decimal / UnsafeArrayData), skipping the external-Row
  * boxing + RowEncoder re-serialization round (the same entry point
  * Spark's own file sources use to hand scan output to the planner).
  */
object InternalRowShim {
  def createDataFrame(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
