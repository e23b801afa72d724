package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.SparkInternals.asNullable
import org.apache.spark.sql.types._
import graft.store.{DatasetMeta, FileStat, OrdDouble, OrdLong, OrdTs, OrdVal, Sidecar}

/** Catalyst [[FileIndex]] over an ordered dataset's `_graftmd.json`
  * zone-map sidecar — the one way a dataset's files become a
  * DataFrame. `format("graft")` serves the live sidecar; every store
  * read serves a PINNED index: a captured snapshot and the files
  * selected from it ([[GraftFileIndex.pinned]]). Spark's file-source
  * planner calls `listFiles` with the query's data filters, and files
  * whose [min, max] stats cannot satisfy them are skipped WITHOUT any
  * parquet footer IO (ref iter_intersections.py:136-151), SQL against
  * a `USING graft` view included. Pruning is a pure optimization:
  * Spark re-applies every data filter at the scan, so an expression
  * this index does not understand simply prunes nothing.
  *
  * 100 TB design: planning is O(#files) driver work over the loaded
  * sidecar, file lengths included — where `spark.read.parquet(paths)`
  * stats every path and, above 32 paths, runs a Spark listing job. The
  * snapshot is immutable, so a plan cannot mix two store generations.
  */
final class GraftFileIndex private (spark: SparkSession, val dir: String,
    private val live: Boolean, init: GraftFileIndex.Snapshot,
    schema: Option[StructType])
    extends FileIndex {

  /** The live dataset: the current sidecar, re-read by [[refresh]]. */
  def this(spark: SparkSession, dir: String) =
    this(spark, dir, live = true, GraftFileIndex.liveSnapshot(spark, dir),
      None)

  @volatile private var snap: GraftFileIndex.Snapshot = init

  /** A pinned index over this one's snapshot serving ONLY the named
    * files: [[GraftStatsAgg]]'s scan of a hybrid aggregate's boundary
    * files. */
  def restricted(names: Set[String]): GraftFileIndex =
    GraftFileIndex.pinned(spark, dir, snap.captured,
      meta.files.filter(f => names(f.name)), schema)

  /** Files selected by the last `listFiles` call (test/diagnostic). */
  @volatile var lastSelectedFiles: Int = -1

  /** Sidecar meta, files cut to the ones this index serves (what the
    * stats-agg rule and `listFiles` both plan against). */
  def meta: DatasetMeta = snap.served

  /** The schema the files are read through: the one the index was
    * pinned with, else the sidecar's (no footer IO; why the sidecar's:
    * `OrderedDataset.read`). Only pre-schema sidecars infer it from a
    * footer (their files are schema-uniform by the old write check).
    */
  def dataSchema: StructType = schema.getOrElse(snap.sidecarSchema)

  override def rootPaths: Seq[HPath] = Seq(new HPath(dir))

  override def partitionSchema: StructType = StructType(Nil)

  override def refresh(): Unit =
    if (live) snap = GraftFileIndex.liveSnapshot(spark, dir)

  override def inputFiles: Array[String] =
    meta.files.map(f => s"$dir/${f.name}").toArray

  override def sizeInBytes: Long = {
    val st = snap.statuses
    meta.files.iterator.flatMap(f => st.get(f.name)).map(_.getLen).sum
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val statuses = snap.statuses
    val sel = GraftFileIndex.selectFiles(meta, dataFilters)
    lastSelectedFiles = sel.size
    // a sidecar file absent from the directory listing must fail the
    // query, not silently shrink it (can only happen if a dataset's
    // retire-grace window elapsed under a long-lived index — refresh());
    // a gone file served from recorded lengths fails the scan instead
    val files = sel.map { f =>
      statuses.getOrElse(f.name, {
        val p = new HPath(s"$dir/${f.name}")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p) // throws FileNotFoundException if gone
      })
    }
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  }

  /** Pinned indexes serving the same files of one generation through
    * one schema are equal — as `spark.read.parquet`'s index compares
    * by its paths — so `ds.df.cache()` serves a later `ds.df`. The
    * live index, which [[refresh]] mutates, equals only itself.
    */
  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex =>
      (this eq g) || (!live && !g.live && dir == g.dir &&
        meta.generation == g.meta.generation &&
        meta.files.map(_.name) == g.meta.files.map(_.name) &&
        dataSchema == g.dataSchema)
    case _ => false
  }

  override def hashCode: Int =
    if (live) System.identityHashCode(this)
    else (dir, meta.generation, meta.files.map(_.name)).##
}

object GraftFileIndex {

  /** A captured sidecar and the files served from it. The captured
    * files' statuses are built from the lengths the sidecar records;
    * only a sidecar written before lengths were recorded costs one
    * directory listing, on first use. */
  private[sources] final class Snapshot(spark: SparkSession, dir: String,
      val captured: DatasetMeta, files: Seq[FileStat]) {
    val served: DatasetMeta = captured.copy(files = files)

    lazy val statuses: Map[String, FileStatus] = {
      val names = captured.files.map(_.name).toSet
      val p = new HPath(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (names.isEmpty) Map.empty
      else if (captured.files.forall(_.bytes.isDefined)) {
        val q = fs.makeQualified(p)
        captured.files.map(f => f.name ->
          new FileStatus(f.bytes.get, false, 0, 0L, 0L, new HPath(q, f.name)))
          .toMap
      } else fs.listStatus(p).iterator
        .filter(s => s.isFile && names(s.getPath.getName))
        .map(s => s.getPath.getName -> s).toMap
    }

    lazy val sidecarSchema: StructType =
      if (captured.schemaJson.nonEmpty) asNullable(
        DataType.fromJson(captured.schemaJson).asInstanceOf[StructType])
      else new ParquetFileFormat()
        .inferSchema(spark, Map.empty, captured.files.flatMap(f =>
          statuses.get(f.name)))
        .map(asNullable).getOrElse(throw new IllegalArgumentException(
          s"graft dataset at $dir is empty and carries no schema"))
  }

  private def liveSnapshot(spark: SparkSession, dir: String): Snapshot = {
    val m = Sidecar.read(spark.sparkContext.hadoopConfiguration, dir)
    new Snapshot(spark, dir, m, m.files)
  }

  /** An index pinned to the captured snapshot `m`, serving `files` (of
    * `m.files`) through `schema` when given, else `m`'s sidecar schema.
    * Never refreshed: a plan built on it reads exactly these files. */
  def pinned(spark: SparkSession, dir: String, m: DatasetMeta,
      files: Seq[FileStat], schema: Option[StructType]): GraftFileIndex =
    new GraftFileIndex(spark, dir, live = false,
      new Snapshot(spark, dir, m, files), schema)

  /** The range test: whether a file's ordered [min, max] can hold a
    * value in [lo, hiExcl) (None = unbounded side) — the zone-map
    * selection of `rangeDF`, range deletes, compaction and range NDV. */
  def inRange(f: FileStat, lo: Option[OrdVal], hiExcl: Option[OrdVal])
      : Boolean =
    lo.forall(f.max >= _) && hiExcl.forall(f.min < _)

  /** The point test: the files whose ordered [min, max] holds any of
    * `points`, by binary search over the sorted point set (O(F log K)).
    */
  def covering(files: Seq[FileStat], points: Seq[OrdVal]): Seq[FileStat] = {
    val sorted = points.distinct.sorted.toIndexedSeq
    files.filter(f => anyIn(sorted, Some(f.min), Some(f.max)))
  }

  /** Whether the sorted point set holds a value in [lo, hi] (None =
    * unbounded side): the first point >= lo, found by binary search. */
  private def anyIn(sorted: IndexedSeq[OrdVal], lo: Option[OrdVal],
      hi: Option[OrdVal]): Boolean = {
    val a = lo.fold(0)(sorted.search(_).insertionPoint)
    a < sorted.length && hi.forall(sorted(a) <= _)
  }

  /** Zone-map file selection: keep the files whose stats can satisfy
    * every conjunct's constraint — the ordered column prunes on the
    * exact [min, max] zone map, any other column on its secondary
    * `ColStat` (data skipping), where a missing side admits the file.
    * Conservative by construction: an expression with no derivable
    * constraint, a column with no stats, or a stat/literal type
    * mismatch keeps the file.
    */
  def selectFiles(m: DatasetMeta, dataFilters: Seq[Expression])
      : Seq[FileStat] = {
    val preds = dataFilters.flatMap(boundOf(_))
    def rangeOf(f: FileStat, col: String): (Option[OrdVal], Option[OrdVal]) =
      if (col.equalsIgnoreCase(m.orderedOn)) (Some(f.min), Some(f.max))
      else f.cols.collectFirst {
        case (n, st) if n.equalsIgnoreCase(col) => (st.min, st.max)
      }.getOrElse((None, None))
    m.files.filter { f =>
      preds.forall { p =>
        try p.admits(rangeOf(f, _))
        catch { case _: IllegalArgumentException => true } // type mismatch
      }
    }
  }

  /** A file-admissibility predicate derived from one filter conjunct;
    * `rangeOf` serves the file's (min, max) for a column name.
    */
  sealed private trait Bound {
    def admits(rangeOf: String => (Option[OrdVal], Option[OrdVal])): Boolean
  }
  private case class Ge(c: String, v: OrdVal) extends Bound {
    def admits(r: String => (Option[OrdVal], Option[OrdVal])) =
      r(c)._2.forall(_ >= v)
  }
  private case class Gt(c: String, v: OrdVal) extends Bound {
    def admits(r: String => (Option[OrdVal], Option[OrdVal])) =
      r(c)._2.forall(_ > v)
  }
  private case class Le(c: String, v: OrdVal) extends Bound {
    def admits(r: String => (Option[OrdVal], Option[OrdVal])) =
      r(c)._1.forall(_ <= v)
  }
  private case class Lt(c: String, v: OrdVal) extends Bound {
    def admits(r: String => (Option[OrdVal], Option[OrdVal])) =
      r(c)._1.forall(_ < v)
  }
  private case class Points(c: String, vs: Seq[OrdVal]) extends Bound {
    private lazy val sorted = vs.distinct.sorted.toIndexedSeq
    def admits(r: String => (Option[OrdVal], Option[OrdVal])) = {
      val (lo, hi) = r(c)
      anyIn(sorted, lo, hi)
    }
  }
  private case class OrB(l: Bound, r: Bound) extends Bound {
    def admits(rf: String => (Option[OrdVal], Option[OrdVal])) =
      l.admits(rf) || r.admits(rf)
  }
  private case class AndB(l: Bound, r: Bound) extends Bound {
    def admits(rf: String => (Option[OrdVal], Option[OrdVal])) =
      l.admits(rf) && r.admits(rf)
  }

  /** Internal (catalyst) literal value → sidecar stat value. Timestamp
    * literals are epoch/wall-clock microseconds for both LTZ and NTZ —
    * exactly what `OrdTs` stores; strings arrive as UTF8String.
    */
  private[sources] def ordVal(value: Any, dt: DataType): Option[OrdVal] =
    (value, dt) match {
      case (null, _)                      => None
      case (v: Long, LongType)            => Some(OrdLong(v))
      case (v: Int, IntegerType)          => Some(OrdLong(v.toLong))
      case (v: Short, ShortType)          => Some(OrdLong(v.toLong))
      case (v: Byte, ByteType)            => Some(OrdLong(v.toLong))
      case (v: Double, DoubleType)        => Some(OrdDouble(v))
      case (v: Float, FloatType)          => Some(OrdDouble(v.toDouble))
      case (v: Long, TimestampNTZType)    => Some(OrdTs(v))
      case (v: Long, TimestampType)       => Some(OrdTs(v))
      // default (binary) collation only — OrdStr compares in binary
      // UTF-8 order, which is what min/max under UTF8_BINARY used
      case (v: org.apache.spark.unsafe.types.UTF8String, st: StringType)
          if st == StringType =>
        Some(graft.store.OrdStr(v.toString))
      case _                              => None
    }

  private def boundOf(e: Expression): Option[Bound] = {
    def attr(a: Expression): Option[String] = a match {
      case ar: AttributeReference => Some(ar.name)
      case _                      => None
    }
    def lit(l: Expression): Option[OrdVal] = l match {
      case Literal(v, dt) => ordVal(v, dt)
      case _              => None
    }
    def mk(a: Expression, l: Expression, f: (String, OrdVal) => Bound)
        : Option[Bound] =
      for { c <- attr(a); v <- lit(l) } yield f(c, v)
    e match {
      case GreaterThan(a, l)        => mk(a, l, Gt).orElse(mk(l, a, Lt))
      case GreaterThanOrEqual(a, l) => mk(a, l, Ge).orElse(mk(l, a, Le))
      case LessThan(a, l)           => mk(a, l, Lt).orElse(mk(l, a, Gt))
      case LessThanOrEqual(a, l)    => mk(a, l, Le).orElse(mk(l, a, Ge))
      case EqualTo(a, l) =>
        mk(a, l, (c, v) => Points(c, Seq(v)))
          .orElse(mk(l, a, (c, v) => Points(c, Seq(v))))
      case EqualNullSafe(a, l) =>
        mk(a, l, (c, v) => Points(c, Seq(v)))
          .orElse(mk(l, a, (c, v) => Points(c, Seq(v))))
      case In(a, vs) =>
        attr(a).flatMap { c =>
          val pts = vs.map(lit)
          if (pts.nonEmpty && pts.forall(_.isDefined))
            Some(Points(c, pts.flatten))
          else None
        }
      case InSet(a, hset) =>
        attr(a).flatMap { c =>
          val dt = a.dataType
          val pts = hset.toSeq.map(v => ordVal(v, dt))
          if (pts.nonEmpty && pts.forall(_.isDefined))
            Some(Points(c, pts.flatten))
          else None
        }
      case And(l, r) =>
        (boundOf(l), boundOf(r)) match {
          case (Some(a), Some(b)) => Some(AndB(a, b))
          case (a, b)             => a.orElse(b)
        }
      case Or(l, r) =>
        // both sides must constrain stats, else the disjunction admits
        // everything
        for { a <- boundOf(l); b <- boundOf(r) } yield OrB(a, b)
      case _ => None
    }
  }
}
