package org.apache.spark.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}

/** Bridge into private[sql] APIs: the Column↔Expression converters, so
  * custom Catalyst expressions (graft.functions) can expose a Column
  * API, and the JSON row rendering of `Dataset.toJSON`.
  * Lives in the org.apache.spark.sql package solely for access scope —
  * the standard pattern for Spark-native extension libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom logical plan (graft.plans nodes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The lines `df.toJSON` would give for `rows`, rows collected from
    * `df`: the same encoder, options and generator as `Dataset.toJSON`,
    * applied on the driver instead of in a `mapPartitions` stage. */
  def jsonLines(df: DataFrame, rows: Array[Row]): Seq[String] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val toRow = ds.exprEnc.createSerializer()
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(ds.exprEnc.schema, writer, new JSONOptions(
      Map.empty[String, String], ds.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.toIndexedSeq.map { r =>
      writer.reset()
      gen.write(toRow(r))
      gen.flush()
      writer.toString
    } finally gen.close()
  }
}
