package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made `Column.expr` /
  * `ExpressionUtils` `private[sql]`; a one-file shim inside the sql package
  * namespace is the minimal public-API-preserving way for a library to
  * expose custom Catalyst expressions as `Column`s (the alternative —
  * registering every function through the SQL parser — loses type safety).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def registerFunction(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The executed plan's RDD in Spark's INTERNAL row format. `df.rdd`
    * converts every row to external `Row` objects (per-field boxing
    * through `CatalystTypeConverters`) and `createDataFrame` pays the
    * same conversion back — the optimization guide's `df.rdd.count()`
    * caveat, measured at several µs/row in the Rank operators. The
    * genuine per-partition logic (offset prefix sums) only needs
    * `getLong` on one ordinal, so it can run directly on the reused
    * `UnsafeRow`s.
    */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd

  /** `SparkSession.internalCreateDataFrame` (private[sql]) — wrap an
    * `InternalRow` RDD back into a DataFrame without the external-Row
    * round trip.
    */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `Utils.createTempDir` (private[spark]): a fresh directory under
    * `java.io.tmpdir`, deleted at JVM shutdown.
    */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
