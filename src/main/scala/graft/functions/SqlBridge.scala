package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge: Column <-> catalyst Expression conversion is
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`), so custom
  * expressions (graft.functions.CharFoldExpr) need this standard
  * extension escape hatch to be wrapped as user-facing Columns. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Deep-nullable view of a schema (`StructType.asNullable` is
    * `private[sql]`) — the normalization every file-source read
    * applies to its schema, needed to compare/serve footer-recorded
    * schemas exactly as `spark.read.parquet` would return them. */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Unset a SparkContext's checkpoint dir (`checkpointDir` is
    * `private[spark]`; there is no public unset) — lets specs restore a
    * shared session to the localCheckpoint path after exercising the
    * reliable-checkpoint path. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** A DataFrame over a parsed LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`): what lets the SQL DML dispatcher evaluate the
    * query/source subtree of an INSERT/MERGE statement through the
    * full analyzer (temp views resolve) without re-extracting its
    * text. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A STREAMING-flagged frame over a batch plan's executed RDD
    * (`internalCreateDataFrame` is `private[sql]`) — the V1 streaming
    * Source contract requires `getBatch` to return `isStreaming`
    * frames; the batch plan resolves (file pruning) at wrap time,
    * rows evaluate lazily when the micro-batch runs. */
  def streamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A PLAIN batch frame over a sink-delivered micro-batch: the
    * DataFrame a V1 Sink's addBatch receives is backed by the
    * streaming IncrementalExecution and must not be re-planned by
    * batch writers — re-wrap its executed RDD (the FileStreamSink
    * discipline). */
  def sinkBatchFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** A batch frame over executed rows (`internalCreateDataFrame` is
    * `private[sql]`): the RDD's partitions stay the frame's partitions,
    * so a caller that unions per-task RDDs keeps one task per part —
    * a Dataset union of single-partition children would zip them into
    * one (`spark.sql.unionOutputPartitioning`). */
  def frameOf(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** Register an expression builder as a session temp SQL function
    * (`sessionState`/`functionRegistry` are `private[sql]`) — what
    * exposes the native codegen kernels (charFold, simhash, dot) to
    * plain `spark.sql` text. */
  def registerSqlFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState
      .functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A frame's analyzed logical plan — what lets the SQL time-travel
    * rewrite graft a versioned read as a subtree of a parsed statement
    * (the analyzer accepts mixed resolved/unresolved trees). */
  def analyzedPlan(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
