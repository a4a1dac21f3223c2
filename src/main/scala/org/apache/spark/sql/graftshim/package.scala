package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` Column↔Expression conversion — the
  * one hook a Spark-native library needs to expose custom Catalyst
  * expressions as user-facing `Column`s (Spark 4 moved `Column` to a
  * connect-agnostic representation; `classic.ExpressionUtils` is the
  * supported classic-mode adapter).
  */
package object graftshim {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The Hadoop conf a SparkContext would start from in this JVM. */
  def defaultHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.deploy.SparkHadoopUtil.newConfiguration(
      new org.apache.spark.SparkConf())
}
