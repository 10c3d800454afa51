package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types.StructType

/** Access to Spark state that is private to Spark. */
object SparkInternals {

  /** Block until every posted event has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Classes Spark's code generator has compiled in this JVM so far (one
    * per cache miss; a class already in the codegen cache is not counted
    * again).
    */
  def generatedClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `s` with every field, element and map value nullable: the schema a
    * file source reports for data written under `s`.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
