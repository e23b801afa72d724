package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.types._

/** The oracle of [[FileStatsTracker]]: sidecar entries computed the way
  * a commit computed them before the writing tasks built them — a
  * readback of the written files through the sidecar schema, one
  * aggregate grouped by file (row count, ordered min/max, secondary
  * min/max under the string-prefix rule, `hll_sketch_agg` per sketch
  * column), and the file's length from the file system.
  */
object ReadbackOracle {

  /** The entries of the files `after` holds and `before` did not, with
    * `after`'s ids and names. `colStats` is the option the commit wrote
    * with; the sketch columns are the ones `after`'s kv names. */
  def added(spark: SparkSession, dir: String, before: Option[DatasetMeta],
      after: DatasetMeta, colStats: Boolean): Seq[FileStat] = {
    val old = before.map(_.files.map(_.name).toSet).getOrElse(Set.empty)
    val files = after.files.filterNot(f => old(f.name))
    if (files.isEmpty) return Nil
    val schema = SparkInternals.asNullable(
      DataType.fromJson(after.schemaJson).asInstanceOf[StructType])
    val readBack = spark.read.schema(schema)
      .parquet(files.map(f => s"$dir/${f.name}"): _*)
    val statCols = FileStatsTracker
      .statColumns(schema, after.orderedOn, colStats)
      .map(c => schema(c))
    val colAggs = statCols.zipWithIndex.flatMap { case (f, i) =>
      f.dataType match {
        case StringType => Seq(
          min(substring(col(f.name), 1, OrderedDataset.StatStrPrefix))
            .as(s"c${i}_mn"),
          max(substring(col(f.name), 1, OrderedDataset.StatStrPrefix))
            .as(s"c${i}_mx"),
          max(length(col(f.name))).as(s"c${i}_len"))
        case _ => Seq(
          min(col(f.name)).as(s"c${i}_mn"),
          max(col(f.name)).as(s"c${i}_mx"))
      }
    }
    val sketchCols = OrderedDataset
      .stickyCols(after.kv, OrderedDataset.SketchColsKey)
      .filter(c => schema.fields.exists(f => f.name == c &&
        FileStatsTracker.sketchable(f.dataType)))
    val aggs = Seq(count(lit(1)).as("rows"),
      min(after.orderedOn).as("mn"), max(after.orderedOn).as("mx")) ++
      colAggs ++ sketchCols.map(c =>
        hll_sketch_agg(col(c), OrderedDataset.HllLgK).as(s"hll_$c"))
    def colStatsOf(r: Row): Map[String, ColStat] =
      statCols.zipWithIndex.flatMap { case (f, i) =>
        val mnI = r.fieldIndex(s"c${i}_mn")
        val mxI = r.fieldIndex(s"c${i}_mx")
        val mn =
          if (r.isNullAt(mnI)) None else Some(OrdVal.fromAny(r.get(mnI)))
        val mxRaw =
          if (r.isNullAt(mxI)) None else Some(OrdVal.fromAny(r.get(mxI)))
        val mx = f.dataType match {
          case StringType =>
            val lenI = r.fieldIndex(s"c${i}_len")
            // a truncated max prefix is NOT an upper bound — drop it
            if (!r.isNullAt(lenI) &&
                r.getAs[Int](lenI) <= OrderedDataset.StatStrPrefix) mxRaw
            else None
          case _ => mxRaw
        }
        if (mn.isEmpty && mx.isEmpty) None
        else Some(f.name -> ColStat(mn, mx))
      }.toMap
    val byName = readBack
      .groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getAs[String]("f") -> r).toMap
    val fs = new HPath(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    files.flatMap(f => byName.get(f.name).map { r =>
      FileStat(f.id, f.name, r.getAs[Long]("rows"),
        OrdVal.fromAny(r.get(r.fieldIndex("mn"))),
        OrdVal.fromAny(r.get(r.fieldIndex("mx"))),
        colStatsOf(r),
        sketchCols.map(c =>
          c -> OrderedDataset.hllBase64(r, s"hll_$c")).toMap,
        Some(fs.getFileStatus(new HPath(s"$dir/${f.name}")).getLen))
    })
  }
}
