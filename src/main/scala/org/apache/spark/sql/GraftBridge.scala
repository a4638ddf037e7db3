package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark internals (Spark 4.x moved the
  * Column ↔ Expression conversions behind `org.apache.spark.sql.classic`).
  * Lives in the `org.apache.spark.sql` package solely to satisfy the
  * `private[sql]` access modifier — the one sanctioned way to build
  * `Column`s from custom Catalyst `Expression`s without Spark Connect.
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Fully convert a Column to a Catalyst expression tree (unresolved
    * attributes, but REAL comparison/boolean nodes, not ColumnNode
    * wrappers) — what plan-level analysis like manifest stats pruning
    * needs to pattern-match on.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `schema` with every field nullable, nested ones included — the
    * data schema Spark's own file sources read under (a file may always
    * lack a column, which then reads NULL).
    */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable

  /** Register an expression builder for SQL usage. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** DataFrame over a logical plan (re-entrant analysis) — what the SQL
    * DML rules use to evaluate a MERGE source subquery themselves.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as STREAMING (`isStreaming = true`) — the
    * contract a DSv1 `Source.getBatch` result must satisfy
    * (MicroBatchExecution asserts it). The physical rows are the batch
    * plan's own `toRdd`; only the logical-plan flag changes. This is how
    * [[graft.streaming.GraftTableSource]] serves a snapshot-table
    * incremental read as a micro-batch.
    */
  def streamingDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse re-tag: a micro-batch DataFrame handed to a DSv1
    * `Sink.addBatch` still carries `isStreaming = true`, which batch
    * write paths reject — wrap its physical rows as a plain batch frame
    * (same `toRdd`, only the flag changes). This is how
    * [[graft.streaming.GraftTableSink]] feeds a micro-batch into the
    * engine's batch append commit.
    */
  def batchDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
