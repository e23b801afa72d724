package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column ↔ Expression conversions — the
  * standard glue any Spark 4 extension needs to expose a custom
  * Catalyst Expression as a user-facing Column (Column wraps a
  * ColumnNode in 4.x; the classic converters are sql-private).
  */
object SparkInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode → Expression conversion: unlike `expression`
    * (which wraps lazily and only unwraps during DataFrame analysis),
    * this returns a real Catalyst tree, required when splicing a
    * Column-composed function into a SQL FunctionBuilder.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `DataType.asNullable` is spark-private; file sources always relax
    * to nullable on read, so a schema served from the graft sidecar
    * must match.
    */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Re-wrap a batch DataFrame's physical RDD as a STREAMING frame
    * (`isStreaming = true`), the contract a V1 streaming `Source`'s
    * `getBatch` must satisfy (MicroBatchExecution asserts the logical
    * plan is streaming). Same trick the built-in V1 sources use via
    * the sql-private `internalCreateDataFrame`.
    */
  def streamingDataFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[streamingDataFrame]]: pin a V1 `Sink.addBatch`
    * micro-batch frame (whose logical plan still references streaming
    * sources and therefore cannot be re-planned by batch writers) to
    * its ALREADY-EXECUTED physical RDD as an ordinary batch DataFrame
    * — the same LogicalRDD re-wrap ForeachBatchSink performs before
    * handing user code the batch.
    */
  def batchDataFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Write `df` as parquet files into the directory `path` in ONE SQL
    * execution, with `trackers` seeing every row and file the writing
    * tasks produce — Delta's `TransactionalWrite.writeFiles` pattern.
    * `options` are the writer options `DataFrameWriter.option` would
    * take (they reach the Hadoop conf the parquet writer reads);
    * Spark's own basic tracker runs too, so the tasks' output metrics
    * are reported as for `df.write.parquet(path)`.
    */
  def writeParquet(df: org.apache.spark.sql.DataFrame, path: String,
      options: Map[String, String],
      trackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker])
      : Unit = {
    import org.apache.spark.sql.execution.datasources._
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val committer = org.apache.spark.internal.io.FileCommitProtocol
        .instantiate(spark.sessionState.conf.fileCommitProtocolClass,
          java.util.UUID.randomUUID().toString, path)
      FileFormatWriter.write(spark, qe.executedPlan,
        new parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, qe.analyzed.output),
        hadoopConf, Nil, None,
        new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics) +: trackers, options)
    }: Unit
  }

  /** Whether `c` always gives the same value for the same row: false
    * when it holds a non-deterministic function (`rand`, `uuid`, a UDF
    * marked non-deterministic, …). Functions named but not yet resolved
    * are looked up in the session's registry first. */
  def isDeterministic(spark: org.apache.spark.sql.SparkSession, c: Column)
      : Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    val registry = spark.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
    expressionEager(c).transformUp {
      case f: UnresolvedFunction if f.nameParts.size == 1 =>
        scala.util.Try(registry.lookupFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(f.nameParts.head),
          f.arguments)).getOrElse(f)
    }.deterministic
  }

  /** Deterministically release the storage behind a
    * `localCheckpoint()`ed DataFrame. `Dataset.unpersist` only consults
    * the CacheManager, which does not track checkpoint blocks — they
    * otherwise linger until the ContextCleaner notices the RDD was
    * GC'd, accumulating executor storage across an iterative loop's
    * rounds. No-op for non-checkpointed frames.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    // collect, don't pattern-match the root: a `.select(...)` over a
    // checkpointed frame analyzes to Project(LogicalRDD), so a
    // root-only match silently released nothing for any derived view
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
    }: Unit
}
