package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The `private[sql]` doorways the custom-operator surface needs:
  * wrapping a hand-built `LogicalPlan` back into a `DataFrame`
  * (`Dataset.ofRows`), and the Tungsten-tier `RDD[InternalRow]`
  * round-trip (`QueryExecution.toRdd` / `internalCreateDataFrame`) that
  * lets an imperative per-partition scan stay on `UnsafeRow`s instead of
  * deserializing every row to a `GenericRow` (`Dataset.rdd`'s path), and
  * what an in-process read of a native format needs to answer the frame a
  * file scan would: a `LocalRelation` over decoded rows, a relation's
  * schema rules, the session's confs.
  * Placing a shim object inside the `org.apache.spark.sql` package tree
  * is the standard technique Spark extension libraries use for this — no
  * Spark internals are modified, and the methods are part of Spark's own
  * stable internal surface (every `DataFrame` the session hands out is
  * built through them).
  */
object SqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The physical plan's output as `RDD[InternalRow]` — no
    * Row-deserialization step. CONTRACT: rows handed to the iterator may
    * reuse their backing buffer between `next()` calls (Spark's standard
    * operator contract); callers must copy anything they retain. */
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** Wrap an `RDD[InternalRow]` as a `DataFrame` without a
    * Row-serialization step (the scan applies an `UnsafeProjection`, so
    * emitting reused/generic internal rows is within contract). */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Rows decoded in process as a driver-local frame (`LocalRelation`),
    * whose `collect()` runs no job. The rows must not be reused buffers. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The data schema a file source's relation holds: checked for
    * duplicate column names, then nullable. */
  def relationSchema(spark: SparkSession, schema: StructType): StructType = {
    SchemaUtils.checkSchemaColumnNameDuplication(schema,
      spark.sessionState.conf.caseSensitiveAnalysis)
    schema.asNullable
  }

  /** `body` with `spark` active on this thread, so Catalyst code run
    * outside a query (schema inference, parsers) reads the session's conf
    * through `SQLConf.get`. */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  def sqlConf(spark: SparkSession): SQLConf = spark.sessionState.conf

  /** A fresh Hadoop conf with the session's settings, as a scan gets. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()
}
