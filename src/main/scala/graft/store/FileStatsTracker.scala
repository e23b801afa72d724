package graft.store

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Sidecar stats of the files a write produces, built by the writing
  * tasks from the rows they write (the reference takes them from the
  * frames it writes too, ref base.py:58-62) — no pass re-reads a
  * written file. Each file's [[FileStat]] carries its row count, the
  * ordered column's [min, max], the secondary-column zone maps of
  * `statCols` (see [[FileStatsTracker.statColumns]]), an HLL sketch per
  * `sketchCols` column, and its byte length; its `id` is unset (-1) and
  * its `name` is the written file's. Files with no rows are left out.
  * Read [[files]] on the driver after the write returns.
  */
private[store] final class FileStatsTracker(schema: StructType,
    orderedOn: String, statCols: Seq[String], sketchCols: Seq[String],
    conf: SerializableConfiguration) extends WriteJobStatsTracker {
  import FileStatsTracker._

  @transient private var written: Seq[FileStat] = Nil

  def files: Seq[FileStat] = written

  override def newTaskInstance(): WriteTaskStatsTracker = new TaskFiles

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    written = stats.collect { case Files(fs) => fs }.flatten

  private def ordinal(c: String) = schema.fieldIndex(c)

  private final class TaskFiles extends WriteTaskStatsTracker {
    private val done = Seq.newBuilder[FileStat]
    private val open = scala.collection.mutable.HashMap.empty[String, Acc]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      open(filePath) = new Acc
    override def newRow(filePath: String, row: InternalRow): Unit =
      open(filePath).add(row)
    override def closeFile(filePath: String): Unit =
      open.remove(filePath).filter(_.rows > 0).foreach { a =>
        val p = new HPath(filePath)
        done += a.stat(p.getName,
          p.getFileSystem(conf.value).getFileStatus(p).getLen)
      }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      Files(done.result())
  }

  /** One file's running stats. */
  private final class Acc {
    var rows = 0L
    private val ord = MinMax(schema(orderedOn).dataType, ordinal(orderedOn))
    private val cols = statCols.map(c =>
      c -> MinMax(schema(c).dataType, ordinal(c)))
    private val sketches = sketchCols.map(c => c -> new Sketch(
      schema(c).dataType, ordinal(c)))

    def add(row: InternalRow): Unit = {
      rows += 1
      ord.add(row)
      cols.foreach(_._2.add(row))
      sketches.foreach(_._2.add(row))
    }

    def stat(name: String, bytes: Long): FileStat = {
      val o = ord.colStat
      require(o.min.isDefined, s"written file $name has no non-null " +
        s"'$orderedOn' value")
      FileStat(-1L, name, rows, o.min.get, o.max.get,
        cols.map { case (c, m) => c -> m.colStat }
          .filter { case (_, s) => s.min.isDefined || s.max.isDefined }
          .toMap,
        sketches.map { case (c, s) => c -> s.base64 }.toMap,
        Some(bytes))
    }
  }
}

private[store] object FileStatsTracker {
  private final case class Files(files: Seq[FileStat]) extends WriteTaskStats

  /** The columns that get secondary min/max zone maps: the first
    * [[OrderedDataset.MaxStatCols]] non-ordered columns of a supported
    * type, in schema order — none when `colStats` is off. */
  def statColumns(schema: StructType, orderedOn: String,
      colStats: Boolean): Seq[String] =
    if (!colStats) Nil
    else schema.fields.toSeq.filter(f => f.name != orderedOn &&
      (f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | TimestampNTZType | TimestampType | StringType =>
          true
        case _ => false
      })).map(_.name).take(OrderedDataset.MaxStatCols)

  /** Whether a column type can be sketched: the `hll_sketch_agg` input
    * domain. */
  def sketchable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _ => false
  }

  /** Running min/max of one column over non-null values, in Spark's
    * aggregate order: floating NaN sorts above every number, and the
    * first of equal values is kept. Strings keep the min/max of their
    * [[OrderedDataset.StatStrPrefix]]-character prefixes and drop the
    * max when a longer value was seen (a truncated max is no bound).
    */
  private abstract class MinMax {
    def add(row: InternalRow): Unit
    def colStat: ColStat
  }

  private object MinMax {
    def apply(dt: DataType, i: Int): MinMax = dt match {
      case LongType => new Longs(i, _.getLong(i), OrdLong)
      case IntegerType => new Longs(i, _.getInt(i).toLong, OrdLong)
      case ShortType => new Longs(i, _.getShort(i).toLong, OrdLong)
      case ByteType => new Longs(i, _.getByte(i).toLong, OrdLong)
      case TimestampType | TimestampNTZType =>
        new Longs(i, _.getLong(i), OrdTs)
      case DoubleType => new Doubles(i, _.getDouble(i))
      case FloatType => new Doubles(i, _.getFloat(i).toDouble)
      case StringType => new Strings(i)
      case other => throw new IllegalArgumentException(
        s"no zone-map stats for type $other")
    }
  }

  private final class Longs(i: Int, get: InternalRow => Long,
      mk: Long => OrdVal) extends MinMax {
    private var seen = false
    private var mn, mx = 0L
    def add(row: InternalRow): Unit = if (!row.isNullAt(i)) {
      val v = get(row)
      if (!seen) { mn = v; mx = v; seen = true }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    def colStat: ColStat =
      if (seen) ColStat(Some(mk(mn)), Some(mk(mx))) else ColStat(None, None)
  }

  private final class Doubles(i: Int, get: InternalRow => Double)
      extends MinMax {
    private var seen = false
    private var mn, mx = 0.0
    // Spark's SQLOrderingUtil.compareDoubles: NaN == NaN, above all
    private def cmp(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    def add(row: InternalRow): Unit = if (!row.isNullAt(i)) {
      val v = get(row)
      if (!seen) { mn = v; mx = v; seen = true }
      else { if (cmp(v, mn) < 0) mn = v; if (cmp(v, mx) > 0) mx = v }
    }
    def colStat: ColStat =
      if (seen) ColStat(Some(OrdDouble(mn)), Some(OrdDouble(mx)))
      else ColStat(None, None)
  }

  private final class Strings(i: Int) extends MinMax {
    private var mn, mx: UTF8String = _
    private var maxLen = 0
    def add(row: InternalRow): Unit = if (!row.isNullAt(i)) {
      val s = row.getUTF8String(i)
      val p = s.substringSQL(1, OrderedDataset.StatStrPrefix)
      if (mn == null || p.compareTo(mn) < 0) mn = p.copy()
      if (mx == null || p.compareTo(mx) > 0) mx = p.copy()
      maxLen = math.max(maxLen, s.numChars)
    }
    def colStat: ColStat = ColStat(Option(mn).map(s => OrdStr(s.toString)),
      Option(mx).filter(_ => maxLen <= OrderedDataset.StatStrPrefix)
        .map(s => OrdStr(s.toString)))
  }

  /** One file's HLL sketch, updated with `hll_sketch_agg`'s per-type
    * calls and finished the way its final aggregate finishes a single
    * partial buffer (a union into a fresh sketch), so the stored bytes
    * equal what the aggregate returns for the file. */
  private final class Sketch(dt: DataType, i: Int) {
    private def fresh = new HllSketch(OrderedDataset.HllLgK, TgtHllType.HLL_8)
    private val sk = fresh
    private val update: InternalRow => Unit = dt match {
      case IntegerType => r => sk.update(r.getInt(i).toLong)
      case LongType => r => sk.update(r.getLong(i))
      case st: StringType =>
        val coll = CollationFactory.fetchCollation(st.collationId)
        r => {
          val s = r.getUTF8String(i)
          if (!coll.equalsFunction.apply(s, UTF8String.EMPTY_UTF8))
            sk.update(coll.sortKeyFunction.apply(s))
        }
      case BinaryType => r => sk.update(r.getBinary(i))
      case other => throw new IllegalArgumentException(
        s"no HLL sketch for type $other")
    }
    def add(row: InternalRow): Unit = if (!row.isNullAt(i)) update(row)
    def base64: String = {
      val u = new Union(OrderedDataset.HllLgK)
      u.update(fresh)
      u.update(HllSketch.heapify(sk.toUpdatableByteArray))
      java.util.Base64.getEncoder.encodeToString(
        u.getResult(TgtHllType.HLL_8).toUpdatableByteArray)
    }
  }
}
