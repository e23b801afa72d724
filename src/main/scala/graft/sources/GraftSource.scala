package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, InsertableRelation, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.execution.streaming.{Sink => StreamSink, Source => StreamSource}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import graft.store.{NRows, OrderedDataset, RowGroupTarget, TimePeriod, WriteOpts}

/** `format("graft")`: an ordered dataset as a first-class Spark data
  * source (ref: the reference exposes its store only through its own
  * Python API — this is the Spark-native equivalent of handing the
  * store to ANY consumer, incl. pure SQL via
  * `CREATE TEMPORARY VIEW v USING graft OPTIONS (path '…')`).
  *
  * Read: a [[HadoopFsRelation]] whose location is [[GraftFileIndex]] —
  * every query's `ordered_on` predicates prune files from sidecar
  * zone maps on the driver, then Spark's standard parquet machinery
  * (vectorized reader, row-group pushdown, column pruning, AQE) runs
  * unchanged. No custom physical operator to maintain, nothing for
  * Catalyst to treat as a black box.
  *
  * Write: the ordered upsert (`OrderedDataset.write`) behind the
  * standard `DataFrameWriter` surface:
  * {{{
  *   df.write.format("graft")
  *     .option("ordered_on", "ts")
  *     .option("target_rows", "2000")        // or target_period=day
  *     .option("duplicates_on", "ts,user")   // or "*" = all columns
  *     .mode("append")                        // append IS the upsert
  *     .save(dir)
  * }}}
  */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path (load(dir) / OPTIONS (path '…'))"))

  // ---- streaming read: spark.readStream.format("graft").load(dir) ----

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", GraftStreamSource.schemaOf(
      sqlContext.sparkSession, path(parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): StreamSource =
    new GraftStreamSource(sqlContext.sparkSession, path(parameters),
      parameters.get("starting_generation").map(_.trim.toLong),
      parameters.get("max_generations_per_trigger").map(_.trim.toLong))

  // ---- streaming write: df.writeStream.format("graft").start(dir) ----

  /** The store as a native Structured Streaming SINK with EXACTLY-ONCE
    * appends (the Delta idempotent-writer / txnVersion analog): every
    * committed batch stamps its epoch id into the sidecar kv
    * (`graft.sink.<sink_id>`) IN THE SAME atomic sidecar swap as the
    * data commit, so a replayed batch after a crash-between-commit-
    * and-checkpoint is detected and skipped — no keep-last dedup key
    * needed, raw append streams stay duplicate-free. Multiple
    * independent queries writing one dataset disambiguate with
    * `option("sink_id", …)`.
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): StreamSink = {
    require(partitionColumns.isEmpty,
      "graft sink does not support partitionBy (files are ranges of " +
        "ordered_on)")
    val dedupKeyed = parameters.contains("duplicates_on")
    require(outputMode == OutputMode.Append() ||
        (outputMode == OutputMode.Update() && dedupKeyed),
      s"graft sink supports Append output mode, or Update WITH " +
        s"duplicates_on (each re-emitted row then keep-last-upserts " +
        s"its key — the streaming-aggregation sink shape); got " +
        s"$outputMode${if (dedupKeyed) "" else " without duplicates_on"}")
    new GraftSink(sqlContext.sparkSession, path(parameters), parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    GraftSource.relation(sqlContext.sparkSession, path(parameters),
      parameters)

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: Dataset[Row]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = path(parameters)
    if (parameters.contains("generation"))
      throw new IllegalArgumentException(
        "cannot write through a time-travel (generation) view")
    val ds = new OrderedDataset(spark, dir)
    val exists = ds.exists
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft dataset already exists at $dir (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case m =>
        if (m == SaveMode.Overwrite && exists) ds.removeFromDisk()
        ds.write(data, GraftSource.writeOpts(parameters))
    }
    GraftSource.relation(spark, dir)
  }
}

object GraftSource {

  /** The ordered dataset at `dir` as a zone-map-pruned DataFrame. */
  def table(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft").load(dir)

  private[sources] def relation(
      spark: SparkSession, dir: String): HadoopFsRelation =
    relation(spark, dir, Map("path" -> dir))

  /** The relation is a [[HadoopFsRelation]] (so Spark's whole file-scan
    * machinery applies) MIXED WITH [[InsertableRelation]]: SQL
    * `INSERT INTO view` routes through the ordered upsert using the
    * view's OPTIONS as write options — without the mixin, Spark's
    * generic file-sink insert would drop sidecar-unaware part-files
    * into the dataset directory that every graft read ignores (silent
    * data loss; probed empirically, see GraftSourceSpec).
    */
  private[sources] def relation(spark: SparkSession, dir: String,
      parameters: Map[String, String]): HadoopFsRelation = {
    val gen = parameters.get("generation").map(_.trim.toLong)
    val index = gen match {
      case Some(g) =>
        val m = new OrderedDataset(spark, dir).metaAsOf(g)
        GraftFileIndex.pinned(spark, dir, m, m.files, None)
      case None => new GraftFileIndex(spark, dir)
    }
    new HadoopFsRelation(index, StructType(Nil), index.dataSchema, None,
      new ParquetFileFormat, Map.empty[String, String])(spark)
      with InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        if (gen.isDefined) throw new IllegalArgumentException(
          "cannot insert into a time-travel (generation) view")
        val ds = new OrderedDataset(spark, dir)
        // a view declared without write options can still be inserted
        // into: the ordering column is already fixed in the sidecar
        val p =
          if (parameters.contains("ordered_on") || !ds.exists) parameters
          else parameters + ("ordered_on" -> ds.meta.orderedOn)
        if (overwrite && ds.exists) ds.removeFromDisk()
        ds.write(data, GraftSource.writeOpts(p)): Unit
        index.refresh()
      }
    }
  }

  /** DataFrameWriter options → [[WriteOpts]]. */
  private[sources] def writeOpts(p: Map[String, String]): WriteOpts = {
    val orderedOn = p.getOrElse("ordered_on",
      throw new IllegalArgumentException(
        "graft write requires option ordered_on"))
    val target: RowGroupTarget = (p.get("target_rows"),
      p.get("target_period")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "set either target_rows or target_period, not both")
      case (Some(n), None)    => NRows(n.trim.toLong)
      case (None, Some(u))    => TimePeriod(u.trim.toLowerCase)
      case (None, None)       => WriteOpts(orderedOn).target
    }
    val dups = p.get("duplicates_on").map { s =>
      val t = s.trim
      if (t == "*") Nil else t.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    WriteOpts(orderedOn, target, dups,
      p.get("max_n_off_target_rgs").map(_.trim.toInt),
      colStats = p.get("col_stats").forall(_.trim.toBoolean),
      mergeSchema = p.get("merge_schema").exists(_.trim.toBoolean),
      bloomFilterCols = p.get("bloom_filter_cols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      clusterBy = p.get("cluster_by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      sketchCols = p.get("sketch_cols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil))
  }
}
