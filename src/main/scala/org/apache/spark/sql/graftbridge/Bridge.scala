package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal private[sql]-scope bridge: Spark 4 moved Column↔Expression
  * conversion behind `private[sql] classic.ExpressionUtils`; extension
  * libraries building Columns from custom Catalyst expressions need this
  * one-hop re-export (the alternative — registering every expression in
  * a FunctionRegistry — couples library calls to session configuration).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an RDD of Catalyst rows of `schema`, with no
    * conversion from external rows (`internalCreateDataFrame` is
    * private[sql]). */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Listener events are delivered async; the bench harness must drain
    * the bus before reading its task-metric counters (`listenerBus` is
    * private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Sets `key` on the active SparkContext's conf unless it is already
    * set there, so a value the user gave always wins (`getActive` and
    * `conf` are private[spark]). No-op without an active context. */
  def defaultConf(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive.foreach { sc =>
      if (!sc.conf.contains(key)) sc.conf.set(key, value)
    }

  /** A fresh directory under `java.io.tmpdir` that Spark's shutdown
    * hook deletes, with its contents, when the JVM exits
    * (`Utils.createTempDir` is private[spark]). */
  def tempDirDeletedOnExit(namePrefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)
}
