package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Register a native expression unless the session already has `name`:
    * the `*Native` helpers register on every use, and a replace would
    * rebuild the entry and log a warning each time.
    */
  private[functions] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
