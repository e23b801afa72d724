package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.GraftFileIndex

/** Row-group sizing target (ref write/write.py:198-231: int → NRows
  * strategy, freqstr → TimePeriod strategy).
  */
sealed trait RowGroupTarget
final case class NRows(n: Long) extends RowGroupTarget
/** One file per time period; unit ∈ {hour, day, week, month}. */
final case class TimePeriod(unit: String) extends RowGroupTarget

/** Options of the ordered upsert (ref write/write.py:78-271).
  * `duplicatesOn = None` disables dedup; `Some(Nil)` dedups on all
  * columns; otherwise the subset is implicitly ∪ {orderedOn}
  * (ref write.py:35-75).
  */
final case class WriteOpts(
    orderedOn: String,
    target: RowGroupTarget = NRows(6345000L),
    duplicatesOn: Option[Seq[String]] = None,
    maxNOffTargetRgs: Option[Int] = None,
    kv: Map[String, String] = Map.empty,
    kvRemove: Seq[String] = Nil,
    /** Collect secondary-column min/max zone maps (data skipping) in
      * the write's stats pass. Disable for datasets whose non-ordered
      * columns are never filtered on.
      */
    colStats: Boolean = true,
    /** Additive schema evolution: batch-only columns extend the
      * dataset schema; stored columns absent from the batch are
      * null-filled. Older files keep their narrower physical schema
      * and serve the newer columns as nulls at read. Type CHANGES are
      * still rejected. Off by default — the reference's strict check.
      */
    mergeSchema: Boolean = false,
    /** Columns to write parquet BLOOM FILTERS for (parquet-mr native,
      * read-side use is automatic inside the scan for equality
      * predicates). Complements the min/max zone maps: a high-cardinality
      * column UNCORRELATED with `orderedOn` has useless min/max ranges,
      * but its bloom skips row groups on point lookups — the Delta
      * bloom-index analog, at zero read-path code.
      */
    bloomFilterCols: Seq[String] = Nil,
    /** Secondary-column CLUSTERING within each written file (the Delta
      * ZORDER analog, constrained to our ordering contract): rows are
      * laid out sorted by these columns INSIDE each file, while file
      * boundaries stay ranges of `orderedOn` — the zone map and every
      * ordered-scan invariant are untouched (intra-file row order is
      * not part of the store contract; ordered consumers sort anyway).
      * The win is parquet ROW-GROUP stats: inside a big file, row
      * groups get tight min/max ranges on the cluster columns, so
      * point/range predicates on them decode a fraction of the file —
      * the granularity below the sidecar's per-FILE ColStat skipping.
      * Sticky like bloom columns: once set, appends and compactions
      * keep clustering (kv `graft.cluster.cols`).
      */
    clusterBy: Seq[String] = Nil,
    /** Columns to maintain per-file HLL SKETCHES for (Apache
      * DataSketches, the same binary format as Spark's
      * `hll_sketch_agg`). Sketches are collected in the write's stats
      * pass (one `hll_sketch_agg` per column over the just-written,
      * page-cache-warm files), stored base64 in the sidecar, and
      * merged DRIVER-SIDE by [[OrderedDataset.approxDistinct]] — an
      * approximate COUNT(DISTINCT) over any file subset, snapshot, or
      * the whole dataset with ZERO data IO and zero Spark jobs.
      * Mergeability is the point at 100 TB: each commit sketches only
      * the files it writes; untouched files keep their sketches, so
      * the dataset-wide estimate is incrementally maintained across
      * appends, upserts and compactions (kv-sticky like bloom/cluster
      * columns, `graft.sketch.cols`). Supported column types: int,
      * long, string, binary (the `hll_sketch_agg` input domain).
      */
    sketchCols: Seq[String] = Nil)

final case class UpsertReport(filesRewritten: Int, filesKept: Int,
                              filesAdded: Int, rowsWritten: Long)

/** [[OrderedDataset.describe]] summary — driver-side metadata only. */
final case class DatasetInfo(dir: String, orderedOn: String,
                             nFiles: Int, totalRows: Long,
                             totalBytes: Long,
                             min: Option[OrdVal], max: Option[OrdVal],
                             generation: Long,
                             retainedGenerations: Seq[Long],
                             sketchCols: Seq[String],
                             bloomCols: Seq[String],
                             clusterCols: Seq[String])

final case class DeleteReport(filesDropped: Int, filesRewritten: Int,
                              filesKept: Int, rowsDeleted: Long)

/** One row of [[OrderedDataset.history]]: a retained generation's
  * totals and the diff its commit made vs the previous retained one
  * (None when the predecessor has aged out of the grace window). */
final case class CommitInfo(generation: Long, committedAtMs: Long,
                            nFiles: Int, totalRows: Long,
                            filesAdded: Option[Int],
                            filesRemoved: Option[Int],
                            rowsDelta: Option[Long])

/** One ordered dataset = a directory of parquet files (one logical row
  * group each) + the `_graftmd.json` stats sidecar — the Spark-native
  * port of the reference's OrderedParquetDataset
  * (ref ordered_parquet_dataset/base.py:117-209).
  *
  * Scale notes (100 TB design intent):
  *  - all planning (overlap detection, compaction selection) happens on
  *    the driver against sidecar stats — O(#files) metadata, no data IO
  *    (ref merge_split_strategies/base.py:184-354 does the same);
  *  - the merge job reads ONLY overlapping files plus the batch, sorts
  *    within range partitions and writes one file per range partition —
  *    no global shuffle of the untouched remainder of the dataset;
  *  - keep-last dedup is a window over the duplicate key, which shuffles
  *    only the merged slice, partitioned by the dup key.
  */
final class OrderedDataset(val spark: SparkSession, val dir: String) {
  import OrderedDataset._

  private def conf = spark.sparkContext.hadoopConfiguration

  def exists: Boolean = Sidecar.exists(conf, dir)
  def meta: DatasetMeta = Sidecar.read(conf, dir)

  private def fs: FileSystem = new HPath(dir).getFileSystem(conf)

  /** The one read path: `files` of the captured snapshot `m` as a
    * parquet [[HadoopFsRelation]] over a [[GraftFileIndex]] pinned to
    * them — Spark's whole file-scan machinery, no listing job however
    * many files, a relation size of exactly the selected files' bytes,
    * and [[graft.sources.GraftStatsAgg]]'s metadata answers for
    * COUNT/MIN/MAX. Files are read through `schema` if given, else the
    * SIDECAR schema (parquet resolves by name): files written before an
    * additive schema evolution (`WriteOpts.mergeSchema`) lack the newer
    * columns and serve them as nulls; footer inference would instead
    * pick one file's schema and silently drop the others' columns. No
    * files is the empty read, which keeps the dataset's columns.
    */
  private def read(m: DatasetMeta, files: Seq[FileStat],
      schema: Option[StructType]): DataFrame = {
    val index = GraftFileIndex.pinned(spark, dir, m, files, schema)
    spark.baseRelationToDataFrame(new HadoopFsRelation(index,
      StructType(Nil), index.dataSchema, None, new ParquetFileFormat,
      Map.empty[String, String])(spark))
  }

  /** Full scan; physical file order is not an ordering guarantee — use
    * orderedDf for an `ordered_on`-sorted view (ref base.py:440-459).
    */
  def df: DataFrame = dfOf(meta)

  /** [[df]] against an explicitly CAPTURED metadata snapshot — the
    * consistent-read primitive for multi-dataset scans: capture every
    * member's sidecar first (one metadata read each), then build every
    * plan from the captured snapshots, so a writer committing between
    * two members' plan builds cannot tear the view
    * ([[Store.rangeDFAcross]], [[graft.pipeline]] index-segment
    * unions). Files the snapshot references stay readable for
    * [[OrderedDataset.retireGraceMs]] past replacement.
    */
  private[graft] def dfOf(m: DatasetMeta): DataFrame = filesDFOf(m, m.files)

  def orderedDf: DataFrame = { val m = meta; df.orderBy(m.orderedOn) }

  /** Current sidecar generation (monotone; bumped by every commit —
    * upsert, delete, optimize, kv update). */
  def generation: Long = meta.generation

  /** Generations currently addressable by [[dfAsOf]]: the retained
    * snapshots still inside the reader grace window, plus the live one.
    */
  def generations: Seq[Long] =
    (retained ++ (if (exists) Seq(meta.generation) else Nil)).sorted

  /** Generations kept as `_graftmd.v<g>.json` snapshots. */
  private def retained: Seq[Long] = {
    val fsys = fs
    val d = new HPath(dir)
    if (!fsys.exists(d)) Seq.empty
    else fsys.listStatus(d).toSeq.flatMap(st => st.getPath.getName match {
      case Sidecar.VersionedRe(g) => Some(g.toLong)
      case _ => None
    })
  }

  /** Metadata as of a retained generation. Snapshots (and the data
    * files their file lists reference) survive `retireGraceMs` past
    * replacement, then age out — a miss names the window. */
  def metaAsOf(gen: Long): DatasetMeta = metaAsOf(gen, meta)

  /** [[metaAsOf]] against the already-read live sidecar `live`. */
  private def metaAsOf(gen: Long, live: DatasetMeta): DatasetMeta =
    if (gen == live.generation) live
    else {
      val p = new HPath(dir, Sidecar.versionedName(gen))
      if (!fs.exists(p)) throw new IllegalArgumentException(
        s"generation $gen of $dir is not retained (live is " +
          s"${live.generation}; snapshots are kept for " +
          s"${OrderedDataset.retireGraceMs} ms past replacement — " +
          s"available: ${generations.mkString(",")})")
      Sidecar.readPath(conf, p)
    }

  /** Time-travel read: the dataset exactly as generation `gen` saw it
    * (Delta-style `VERSION AS OF`). Works because a commit retires
    * replaced data files instead of deleting them — within the grace
    * window the old file list is still fully on disk. */
  def dfAsOf(gen: Long): DataFrame = dfOf(metaAsOf(gen))

  /** Commit log over the retained generations (DESCRIBE HISTORY
    * analog), derived entirely by DIFFING consecutive snapshots — no
    * write-path bookkeeping to drift out of sync. One row per
    * generation still addressable by [[dfAsOf]]: its file/row totals
    * and what its commit changed vs the previous retained generation
    * (adds/removes are None for the oldest retained row — its
    * predecessor has aged out). `committedAtMs` is the snapshot
    * file's mtime: exact for the live generation, the NEXT commit's
    * archive time for retained ones (an upper bound within one commit
    * cycle).
    */
  def history: Seq[CommitInfo] = if (!exists) Nil else {
    val fsys = fs
    val live = meta // parsed once: every generation below compares to it
    val gens = (retained :+ live.generation).sorted
    val metas = gens.map(g => g -> metaAsOf(g, live))
    val times = gens.map { g =>
      val p =
        if (g == live.generation) Sidecar.path(dir)
        else new HPath(dir, Sidecar.versionedName(g))
      g -> fsys.getFileStatus(p).getModificationTime
    }.toMap
    metas.zipWithIndex.map { case ((g, m), i) =>
      val prev = if (i == 0) None else Some(metas(i - 1)._2)
      val prevNames = prev.map(_.files.map(_.name).toSet)
      CommitInfo(g, times(g), m.files.size, m.totalRows,
        prevNames.map(p => m.files.count(f => !p(f.name))),
        prevNames.map(p =>
          (p -- m.files.map(_.name)).size),
        prev.map(p => m.totalRows - p.totalRows))
    }
  }

  /** Row-level change feed between two retained generations (Delta
    * CDF `table_changes` analog): rows present at `toGen` but not at
    * `fromGen` carry `_change_type = 'insert'`, rows present at
    * `fromGen` but gone at `toGen` carry `'delete'`; an in-place
    * update appears as its delete+insert pair. Multiset semantics
    * (`exceptAll`): duplicated rows change by count, not presence.
    *
    * 100 TB design: the two snapshots are first diffed by FILE LIST on
    * the driver (sidecar metadata only). Data files are immutable, so
    * files common to both generations cannot contribute changes and
    * are never opened; the row-level `exceptAll` (one hash shuffle per
    * side) runs only over the files the intervening commits replaced
    * or added — O(churn), not O(dataset). Both sides are read through
    * the NEWER generation's sidecar schema, so additive schema
    * evolution between the generations null-fills the older files
    * instead of mis-aligning the diff.
    */
  def changeFeed(fromGen: Long, toGen: Long): DataFrame = {
    require(fromGen < toGen,
      s"changeFeed wants fromGen < toGen, got $fromGen >= $toGen")
    val live = meta
    val mF = metaAsOf(fromGen, live)
    val mT = metaAsOf(toGen, live)
    val fNames = mF.files.map(_.name).toSet
    val tNames = mT.files.map(_.name).toSet
    val newSide = filesDFOf(mT, mT.files.filterNot(f => fNames(f.name)))
    val oldSide = read(mF, mF.files.filterNot(f => tNames(f.name)),
      Some(newSide.schema))
    // single-pass count-diff instead of two exceptAlls: each side is
    // scanned and shuffled ONCE (a grouped count per side, full-outer
    // join on the identical grouping keys — partitioning is reused, no
    // extra exchange), where exceptAll-both-ways would scan each slice
    // twice. Multiset semantics fall out of the count delta; rows
    // rewritten unchanged cancel to delta 0.
    val cols = newSide.columns.toSeq
    val newC = newSide.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__nc"))
    val oldC = oldSide.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__oc"))
    newC.join(oldC, cols, "full_outer")
      .select(cols.map(col) :+
        (coalesce(col("__nc"), lit(0L)) - coalesce(col("__oc"), lit(0L)))
          .as("__delta"): _*)
      .filter(col("__delta") =!= 0L)
      .select(cols.map(col) :+
        when(col("__delta") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type") :+
        explode(sequence(lit(1L), abs(col("__delta")))).as("__i"): _*)
      .drop("__i")
  }

  /** Zone-map-pruned range scan [lo, hiExcl) — files are selected from
    * sidecar stats without touching parquet footers
    * (ref iter_intersections.py:136-151; SURVEY §4). The bounds enter
    * the plan through [[OrdVal.bound]]: they push down to parquet like
    * plain literals, and a later read of the same dataset with other
    * bounds reuses the compiled classes of the first.
    */
  def rangeDF(lo: Option[OrdVal], hiExcl: Option[OrdVal]): DataFrame =
    rangeDFOf(meta, lo, hiExcl)

  /** [[rangeDF]] against a CAPTURED metadata snapshot (see [[dfOf]]). */
  private[graft] def rangeDFOf(m: DatasetMeta, lo: Option[OrdVal],
      hiExcl: Option[OrdVal]): DataFrame = {
    var d =
      filesDFOf(m, m.files.filter(GraftFileIndex.inRange(_, lo, hiExcl)))
    val dt = d.schema(m.orderedOn).dataType
    lo.foreach(l => d = d.filter(col(m.orderedOn) >= l.bound(dt)))
    hiExcl.foreach(h => d = d.filter(col(m.orderedOn) < h.bound(dt)))
    d
  }

  /** Zone-map-pruned multi-point scan: ONE scan branch over exactly the
    * files whose [min, max] contains any of the given ordered values.
    * The point-membership residual (e.g. an isin) is the caller's to
    * add — it pushes down to parquet row-group stats. Use instead of
    * unioning many rangeDF branches (N scans, N× planning) when the
    * point set is driver-bounded.
    */
  def multiPointDF(points: Seq[OrdVal]): DataFrame =
    multiPointDFOf(meta, points)

  /** [[multiPointDF]] against a CAPTURED metadata snapshot (see
    * [[dfOf]]). */
  private[graft] def multiPointDFOf(m: DatasetMeta,
      points: Seq[OrdVal]): DataFrame =
    filesDFOf(m, GraftFileIndex.covering(m.files, points))

  /** Scan exactly the given sidecar files of a CAPTURED snapshot, read
    * through its sidecar schema — every selection above ends here, as
    * do the segmented probes, whose file selection is computed
    * elsewhere from the zone maps the snapshot carries.
    */
  private[graft] def filesDFOf(m: DatasetMeta, files: Seq[FileStat])
      : DataFrame = read(m, files, None)

  /** Row-group-slice view by position in min-order, the analog of
    * `opd[i:j]` (ref base.py:297-330, read_only.py:52-168).
    */
  def sliceDF(from: Int, untilExcl: Int): DataFrame = {
    val m = meta
    filesDFOf(m, m.files.slice(from, untilExcl))
  }

  /** Approximate COUNT(DISTINCT col) from the per-file HLL sketches in
    * the sidecar (WriteOpts.sketchCols) — a pure driver-side merge of
    * O(#files) ~2 KB sketches: ZERO data files opened, zero Spark
    * jobs, at any dataset size. The lakehouse analog of answering
    * NDV from table statistics, but incrementally exact-to-the-sketch:
    * every commit re-sketches only the files it writes.
    *
    * Restricted to a range [lo, hiExcl) the estimate unions only the
    * zone-map-overlapping files — a slight OVER-count when boundary
    * files straddle the range edge (their whole-file sketch is
    * included); exact-range queries should scan instead.
    *
    * Throws if any selected file lacks a sketch for `colName` (files
    * written before sketching was enabled — [[backfillSketches]] fills
    * the gaps with one read of exactly the missing files).
    */
  def approxDistinct(colName: String, lo: Option[OrdVal] = None,
      hiExcl: Option[OrdVal] = None): Long =
    approxDistinctOf(meta, colName, lo, hiExcl)

  /** [[approxDistinct]] against a retained snapshot generation — the
    * sketches travel in the sidecar, so historical NDV is as
    * metadata-cheap as the live one. */
  def approxDistinctAsOf(gen: Long, colName: String): Long =
    approxDistinctOf(metaAsOf(gen), colName, None, None)

  private def approxDistinctOf(m: DatasetMeta, colName: String,
      lo: Option[OrdVal], hiExcl: Option[OrdVal]): Long = {
    val sel = m.files.filter(GraftFileIndex.inRange(_, lo, hiExcl))
    val missing = sel.filter(!_.hll.contains(colName))
    require(missing.isEmpty,
      s"${missing.size} of ${sel.size} selected files have no HLL " +
        s"sketch for '$colName' (written before sketching was enabled " +
        "or column not in sketchCols); backfillSketches() fills the gaps")
    val u = new org.apache.datasketches.hll.Union(OrderedDataset.HllLgK)
    sel.foreach { f =>
      u.update(org.apache.datasketches.hll.HllSketch.heapify(
        java.util.Base64.getDecoder.decode(f.hll(colName))))
    }
    math.round(u.getEstimate)
  }

  /** Revert the dataset to a retained snapshot generation — the Delta
    * `RESTORE TABLE … TO VERSION AS OF` analog. A metadata-only commit:
    * the archived sidecar's file list / kv / schema become current
    * again (every file it references is still on disk within the
    * retire grace window — verified, failing loudly if vacuumed), and
    * files added after `gen` become unreferenced retirees swept after
    * their own grace.
    *
    * The restore is itself a new generation (monotonic — history is
    * never rewritten), and `nextFileId` keeps its high-water mark so
    * rolled-back file ids are never reused. Snapshots of the undone
    * generations stay addressable until their files age out.
    */
  def restoreTo(gen: Long): Unit = withWriteLock {
    require(exists, s"no graft dataset at $dir")
    val cur = meta
    if (cur.generation != gen) {
      val m = metaAsOf(gen)
      m.files.foreach(f => require(
        fs.exists(new HPath(s"$dir/${f.name}")),
        s"cannot restore to generation $gen: ${f.name} was vacuumed"))
      Sidecar.write(conf, dir,
        m.copy(nextFileId = cur.nextFileId max m.nextFileId))
      // files live in `cur` but absent from the restored list are
      // RETIRED BY THIS COMMIT: stamp their retirement time like any
      // other commit does, so readers holding the undone generation's
      // plan get the full grace window from NOW (not from file
      // creation)
      val restored = m.files.map(_.name).toSet
      retire(cur.files.filterNot(f => restored.contains(f.name)))
    }
  }

  /** Sketch the files MISSING a sketch for the given columns (default:
    * the kv-sticky sketchCols) without rewriting any data: one Spark
    * job over exactly the missing files, then a metadata-only sidecar
    * swap. Enabling sketching on an existing dataset costs one read of
    * its history instead of a full rewrite. Returns #files updated.
    */
  def backfillSketches(cols: Seq[String] = Nil): Int = withWriteLock {
    val m = meta
    val sticky =
      OrderedDataset.stickyCols(m.kv, OrderedDataset.SketchColsKey)
    val want = if (cols.nonEmpty) cols else sticky
    require(want.nonEmpty,
      "no sketch columns: pass cols or write with WriteOpts.sketchCols")
    val missing = m.files.filter(f => want.exists(!f.hll.contains(_)))
    if (missing.isEmpty) 0
    else {
      val d = filesDFOf(m, missing)
      val aggs = want.map(c =>
        hll_sketch_agg(col(c), OrderedDataset.HllLgK).as(s"hll_$c"))
      val byFile = d
        .groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getAs[String]("f") -> want.map(c =>
          c -> OrderedDataset.hllBase64(r, s"hll_$c")).toMap).toMap
      val updated = m.files.map { f =>
        byFile.get(f.name).map(h => f.copy(hll = f.hll ++ h)).getOrElse(f)
      }
      Sidecar.write(conf, dir, m.copy(files = updated,
        kv = m.kv + (OrderedDataset.SketchColsKey ->
          (sticky ++ want).distinct.mkString(","))))
      missing.size
    }
  }

  /** Driver-side dataset summary (DESCRIBE DETAIL analog): file/row/
    * byte totals, ordered-column bounds, live + retained generations,
    * and the sticky layout columns — one sidecar read plus one
    * directory listing, zero data IO.
    */
  def describe(): DatasetInfo = {
    val m = meta
    val fsys = fs
    val bytes = m.files.map { f =>
      try fsys.getFileStatus(new HPath(s"$dir/${f.name}")).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    def kvCols(key: String) = OrderedDataset.stickyCols(m.kv, key)
    DatasetInfo(
      dir = dir,
      orderedOn = m.orderedOn,
      nFiles = m.files.size,
      totalRows = m.totalRows,
      totalBytes = bytes,
      min = m.files.headOption.map(_.min),
      max = m.files.lastOption.map(_.max),
      generation = m.generation,
      retainedGenerations = generations,
      sketchCols = kvCols(OrderedDataset.SketchColsKey),
      bloomCols = kvCols(OrderedDataset.BloomColsKey),
      clusterCols = kvCols(OrderedDataset.ClusterColsKey))
  }

  def kv: Map[String, String] = meta.kv

  /** Locked read-modify-write: an unlocked kv update racing a concurrent
    * upsert would re-commit the PRE-upsert file list wholesale (the
    * sidecar is one document), silently dropping the other writer's
    * files.
    *
    * Locking note (changed r11 when this became a [[transformKv]]
    * delegate): a held lock QUEUES up to the commit-gate floor
    * (max(lockWaitMs, CommitWaitMs) ≈ 10 s) instead of the write
    * path's default fail-fast — a kv swap's critical section is
    * milliseconds, so waiting composes concurrent bumps rather than
    * dropping one. Callers using lock contention as a signal should
    * use [[write]] (which keeps the fail-fast default).
    */
  def updateKv(add: Map[String, String], remove: Seq[String] = Nil): Unit =
    transformKv(_ ++ add -- remove)

  /** [[updateKv]]'s function form: `f` runs on the kv map read INSIDE
    * the lock, so read-modify-write updates (e.g. incrementing a
    * counter) compose correctly across concurrent writers instead of
    * losing increments to a stale pre-lock read. Queues up to the
    * commit-gate floor rather than failing fast: a kv RMW's critical
    * section is milliseconds (one sidecar swap), the same reasoning
    * [[commitSection]] applies — failing fast here would silently
    * drop an increment raced against another writer's brief hold.
    */
  def transformKv(f: Map[String, String] => Map[String, String]): Unit =
    transformKvWait(
      math.max(OrderedDataset.lockWaitMs, OrderedDataset.CommitWaitMs))(f)

  /** [[transformKv]] with an explicit queue budget, for callers whose
    * bump must outwait a LONG lock hold — e.g. an index add's scalar
    * bump racing a compaction fold that holds the base lock for its
    * entire Spark job (ADVICE r12). The RMW's own critical section is
    * milliseconds, so a generous wait can never deadlock; it only
    * queues. */
  def transformKvWait(waitMs: Long)
      (f: Map[String, String] => Map[String, String]): Unit =
    withWriteLockWait(waitMs) {
      val m = meta
      Sidecar.write(conf, dir, m.copy(kv = f(m.kv)))
    }

  def removeFromDisk(): Unit = fs.delete(new HPath(dir), true)

  /** Advisory exclusive write lock (ref base.py:240-255 flufl lock).
    * Acquisition is atomic (`FileSystem.create` with overwrite=false —
    * fails if the lock exists); while held, a daemon heartbeat refreshes
    * the lock mtime every `LockRefreshMs`, so a healthy long-running
    * write never looks stale (the reference refreshes its flufl lock the
    * same way, ref base.py:728-735). Only a lock whose mtime is older
    * than `LockStaleMs` — several missed heartbeats — is broken.
    */
  private def withWriteLock[T](f: => T): T =
    withWriteLockWait(OrderedDataset.lockWaitMs)(f)

  private def withWriteLockWait[T](waitMs: Long)(f: => T): T = {
    val lockPath = new HPath(s"$dir/$LockName")
    val fsys = fs
    fsys.mkdirs(new HPath(dir))
    // unique per-acquisition token: pid@host alone would collide for two
    // writers in the same JVM, letting one delete the other's live lock
    val token = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName + ":" + java.util.UUID.randomUUID().toString
    // bounded wait for a HELD (fresh) lock: with lockWaitMs = 0 the
    // second writer fails fast (the reference's flufl contract);
    // raised, writers QUEUE briefly — steady concurrent appenders
    // serialize instead of erroring (commits are short: one sidecar
    // swap after the Spark job). The optimistic commit gate passes its
    // own floor (CommitWaitMs): its critical section is milliseconds,
    // so queueing is always the right call there.
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    var attempts = 0
    while (!acquired) {
      // held / stale / free?
      sealed trait St
      case object Held extends St
      case object Free extends St
      final case class Stale(mtime: Long) extends St
      val state: St =
        try {
          val st = fsys.getFileStatus(lockPath)
          if (System.currentTimeMillis() - st.getModificationTime
              < LockStaleMs) Held
          else Stale(st.getModificationTime)
        } catch { case _: java.io.FileNotFoundException => Free }
      state match {
        case Held =>
          // queue within the wait budget, then give up
          if (System.currentTimeMillis() >= deadline)
            throw new IllegalStateException(
              s"dataset $dir is locked by another writer")
          Thread.sleep(LockPollMs)
        case other =>
          other match {
            case Stale(mt) =>
              // re-stat before breaking: if another writer already broke
              // the stale lock and created its own (fresh mtime), leave
              // it alone
              try {
                if (fsys.getFileStatus(lockPath).getModificationTime == mt)
                  fsys.delete(lockPath, false)
              } catch { case _: java.io.FileNotFoundException => () }
            case _ => ()
          }
          if (atomicCreateLock(fsys, lockPath, token)) acquired = true
          else { // lost the create race; within the budget keep queueing
            attempts += 1
            if (attempts >= 3 && System.currentTimeMillis() >= deadline)
              throw new IllegalStateException(
                s"dataset $dir is locked by another writer")
            Thread.sleep(50L * math.min(attempts, 4))
          }
      }
    }
    val heartbeat = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(LockRefreshMs)
          // transient FS hiccups must not kill the heartbeat: a silently
          // dead heartbeat lets a healthy long write be broken as stale
          try fs.setTimes(lockPath, System.currentTimeMillis(), -1)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-$dir")
    heartbeat.setDaemon(true)
    heartbeat.start()
    try {
      cleanOrphans(fsys)
      f
    } finally {
      heartbeat.interrupt()
      // delete only OUR lock: if a second writer (wrongly or rightly)
      // broke this one as stale and created its own, an unconditional
      // delete here would readmit a third concurrent writer
      if (readLockToken(fsys, lockPath).contains(token))
        fsys.delete(lockPath, false)
    }
  }

  private def readLockToken(fsys: FileSystem, lockPath: HPath)
      : Option[String] =
    try {
      val in = fsys.open(lockPath)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Create the lock file atomically, failing if it exists. Hadoop's
    * local create(overwrite=false) is check-then-act (NOT atomic — two
    * racing writers both pass the exists check; caught by the racing-
    * writers spec), so the file scheme uses java.nio CREATE_NEW
    * (O_CREAT|O_EXCL). Other schemes rely on FileSystem.create's
    * overwrite=false contract, which HDFS implements atomically on the
    * NameNode.
    */
  private def atomicCreateLock(fsys: FileSystem, lockPath: HPath,
      token: String): Boolean = {
    val payload = token.getBytes("UTF-8")
    if (fsys.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(lockPath.toUri.getPath), payload,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      // two failure shapes: create() itself fails (lock exists — a real
      // race, leave it alone) vs create() succeeds but write/close fails
      // (OUR half-written lock — remove it, or every writer is blocked
      // for LockStaleMs by a lock nobody owns)
      val created =
        try Some(fsys.create(lockPath, false))
        catch { case _: java.io.IOException => None }
      created match {
        case None => false
        case Some(out) =>
          try { try out.write(payload) finally out.close(); true }
          catch {
            case _: java.io.IOException =>
              try fsys.delete(lockPath, false)
              catch { case _: java.io.IOException => () }
              false
          }
      }
    }
  }

  /** Under the lock: remove leftovers — tmp write dirs of dead writers,
    * plus unreferenced data files. Unreferenced files split into two
    * generations by file id against the sidecar's `nextFileId`:
    *
    *  - id >= nextFileId: a crashed commit renamed files in but never
    *    swapped the sidecar. Those ids WILL be reused by the next commit
    *    and a rename onto them would fail, so they are deleted
    *    immediately (ADVICE r1).
    *  - id < nextFileId: files RETIRED by a completed commit (their
    *    replacement swap advanced nextFileId past them). Ids are never
    *    reused, so they conflict with nothing; they are kept for
    *    `retireGraceMs` after retirement (the commit touches their
    *    mtime) so concurrent readers holding a plan against the previous
    *    sidecar can still finish — the Spark-native analog of the
    *    reference holding its lock across reads (ref base.py:240-255).
    */
  private def cleanOrphans(fsys: FileSystem,
      grace: Long = OrderedDataset.retireGraceMs): Int = {
    val d = new HPath(dir)
    if (!fsys.exists(d)) return 0
    val m = if (exists) Some(meta) else None
    val referenced: Set[String] = m.map(_.files.map(_.name).toSet)
      .getOrElse(Set.empty)
    val nextId = m.map(_.nextFileId).getOrElse(0L)
    val now = System.currentTimeMillis()
    var reaped = 0
    fsys.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      // tmp dirs are reaped only past the grace window: an OPTIMISTIC
      // writer prepares its files in a tmp dir WITHOUT holding the
      // lock, so a concurrent committer's sweep must not destroy a
      // live preparer's in-flight output (the dir's mtime refreshes
      // as the job writes into it); a crashed writer's dir ages out
      // like any retiree
      if (st.isDirectory && n.startsWith(TmpDirPrefix) &&
          now - st.getModificationTime > grace)
        fsys.delete(st.getPath, true)
      else if (st.isFile && !referenced.contains(n)) {
        n match {
          case DataFileRe(idDigits) =>
            if (idDigits.toLong >= nextId ||
                now - st.getModificationTime > grace) {
              fsys.delete(st.getPath, false)
              reaped += 1
            }
          // retained sidecar generations age out with the data files
          // their file lists reference (same grace window): after that
          // a time-travel read could dangle anyway
          case Sidecar.VersionedRe(_) =>
            if (now - st.getModificationTime > grace)
              fsys.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
    reaped
  }

  /** Explicitly reap retired files older than `olderThanMs` (plus any
    * dead writer's leftovers) — Delta's VACUUM analog for callers that
    * want disk back before the next write's automatic sweep. Shrinking
    * the window below the default trades concurrent-reader safety for
    * space: a reader planned against an older sidecar may fail.
    * Returns the number of data files removed.
    */
  def vacuum(olderThanMs: Long = OrderedDataset.retireGraceMs): Int =
    withWriteLock { cleanOrphans(fs, olderThanMs) }

  /** The ordered upsert (ref write/write.py:78-271; SURVEY §3.1):
    * plan on the driver from sidecar stats, run ONE Spark job over the
    * overlapping slice ∪ batch, commit via atomic sidecar swap.
    */
  def write(batch: DataFrame, opts: WriteOpts): UpsertReport =
    withWriteLock { writeBody(batch, opts) }

  /** [[write]] that COMBINES duplicates instead of keeping the last:
    * the rewrite slice's stored rows and the batch's rows sharing a
    * `duplicatesOn` key reduce to one row through `combine`, aggregates
    * naming every non-key column (AggStream's mergeable partials). The
    * overlap files are read once, by the write itself. `stats` are the
    * batch's bounds, computed by the caller in a pass it runs anyway,
    * so the batch runs no action of its own: its ordered [min, max]
    * (exact) and an upper bound on its rows, which only decides whether
    * the dedup count runs. A batch with no rows commits `opts.kv` alone,
    * creating the dataset if it is missing.
    */
  private[graft] def writeCombining(batch: DataFrame, opts: WriteOpts,
      combine: Seq[Column], stats: BatchStats): UpsertReport = {
    require(opts.duplicatesOn.exists(_.nonEmpty),
      "a combining write needs explicit duplicatesOn key columns")
    withWriteLock { writeBody(batch, opts, combine = combine,
      known = Some(stats)) }
  }

  /** [[write]] with a caller validation run INSIDE the write lock,
    * against the then-current sidecar state, before any work: the
    * TOCTOU fence for callers that validated a precondition OUTSIDE
    * the lock ([[Store.appendSharded]]'s chain validation vs a
    * concurrent [[Store.reShard]] — VERDICT r10 #4). `guard` throwing
    * aborts the write with the lock released and nothing committed.
    * Everything `guard` reads through this dataset ([[exists]],
    * [[meta]]) is a fresh sidecar read, and every state change a
    * competing writer makes goes through the same lock ([[updateKv]],
    * [[write]]), so the guarded check cannot go stale before the
    * commit.
    */
  def writeGuarded(batch: DataFrame, opts: WriteOpts)
      (guard: => Unit): UpsertReport =
    withWriteLock { guard; writeBody(batch, opts) }

  /** Optimistic-concurrency upsert (beyond the reference; the
    * lakehouse-standard protocol next to the advisory-lock [[write]]):
    * plan and MATERIALIZE the new files WITHOUT holding the write
    * lock, then take the lock only for the commit's critical section
    * (renames + sidecar swap — milliseconds), validating there that
    * the generation the plan was built against is still current. On
    * conflict the prepared tmp output is discarded and the whole
    * write re-plans against the new state, up to `maxAttempts`.
    *
    * When to use which — MEASURED (SCALE.md Round-12c, record
    * records/BENCH_OPTECON_20260816.json; the retired bench is in
    * SCALE.md's "Retired experiment mains"): on SHARED compute
    * (one Spark scheduler, N threads) optimistic buys no wall time —
    * 2/4/8 writers read 20.7/39.4/77.3 s vs locked-queued
    * 20.8/41.8/78.9 s, because overlapping prepares contend for the
    * same cores — while wasted prepares grow ~quadratically (0.5 /
    * 1.75 / 4.25 discarded prepares PER COMMIT at 2/4/8 writers:
    * every commit invalidates every in-flight prepare). So: for N
    * uncoordinated appenders sharing one cluster, prefer [[write]]
    * with `lockWaitMs` raised (same wall, zero wasted work).
    * `writeOptimistic` is for writers with INDEPENDENT compute —
    * separate JVMs/clusters (the TwoJvmOptimisticSpec shape) — or
    * long prepares with rare commits, where overlap is real and the
    * occasional discarded prepare is the cheaper trade. Each retry
    * re-plans against fresher state, and non-overlapping appends
    * conflict only on the sidecar swap, never on data.
    *
    * Readers are unaffected either way: they resolve file lists
    * through the atomic sidecar and never see tmp output or
    * un-swapped renames. Safe to MIX with [[write]]/[[writeGuarded]]
    * on one dataset: the locked path mutates generations only under
    * the same lock the commit gate takes, so it simply becomes
    * another competitor the validation detects. Crash recovery is
    * unchanged — an abandoned prepare is a tmp dir reaped by
    * [[cleanOrphans]] after the grace window.
    */
  def writeOptimistic(batch: DataFrame, opts: WriteOpts,
      maxAttempts: Int = 5): UpsertReport = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    var attempt = 1
    while (true) {
      try return writeBody(batch, opts, optimistic = true)
      catch {
        case e: OrderedDataset.WriteConflictException =>
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"optimistic write of $dir lost its commit race " +
                s"$maxAttempts times (${e.getMessage}) — under " +
                "sustained contention serialize writers instead " +
                "(write() with OrderedDataset.lockWaitMs raised, or " +
                "route writes through Store.transaction)", e)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Full-replace commit: `data` becomes the dataset's ENTIRE new
    * contents in ONE job — fresh files written and sized by `opts`,
    * sidecar swapped atomically (kv merged per `opts.kv`/`kvRemove`,
    * exactly as an upsert's commit), every previous file retired under
    * the reader grace window. Same crash invariants as [[write]]: a
    * failure before the swap leaves the dataset untouched (tmp output
    * is swept by cleanOrphans), and readers holding the previous
    * sidecar keep reading the retired files for `retireGraceMs`.
    *
    * This is the compaction primitive for callers that already HOLD
    * the complete merged view: [[graft.pipeline.IndexSegments]]'
    * count-index fold reads base ∪ segments ONCE into a grouped sum
    * and replaces — routing the totals through the upsert instead
    * would read the base a SECOND time for overlap planning (the
    * honest-cost note the r12 fold carried). The batch must already
    * be deduplicated: no keep-last pass runs here.
    */
  def replaceAll(data: DataFrame, opts: WriteOpts): UpsertReport =
    withWriteLock {
      require(exists, s"no graft dataset at $dir")
      val m = meta
      require(m.orderedOn == opts.orderedOn,
        s"ordered_on is fixed at creation: ${m.orderedOn} != " +
          opts.orderedOn)
      if (m.schemaJson.nonEmpty) {
        val stored = DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType].fields.map(_.name).toSet
        require(stored == data.columns.toSet,
          s"replaceAll schema does not match dataset: missing " +
            s"${stored -- data.columns}, extra " +
            s"${data.columns.toSet -- stored}")
      }
      // persist: the frame feeds the row count (file sizing) AND the
      // materialize write — without it the union/group lineage would
      // run twice, re-reading exactly what the single-read fold saves
      val d = data.persist()
      try {
        val totalIn = d.count()
        require(totalIn > 0,
          "replaceAll with an empty frame would empty the dataset; " +
            "use delete or removeFromDisk for that")
        materialize(d, totalIn, rewrite = m.files, kept = Nil, Some(m),
          opts, m.orderedType, hasProvenance = false)
      } finally d.unpersist(): Unit
    }

  /** Range delete on the ordered column: removes every row with
    * `lo <= ordered_on < hiExcl` (the [[rangeDF]] bound convention;
    * None = unbounded). The pipeline use case: purging a contaminated
    * or recalled slice from a corpus in place.
    *
    * 100 TB design: files FULLY covered by the range are dropped by a
    * sidecar-only commit — zero data read or written, however large
    * they are. Only boundary files straddling a range edge (at most a
    * handful) are rewritten, sized by the largest rewritten file's row
    * count (preserving the dataset's size class).
    * Commit is the same atomic sidecar swap as upsert; replaced files
    * retire under the reader grace window.
    */
  def delete(lo: Option[OrdVal], hiExcl: Option[OrdVal]): DeleteReport =
      withWriteLock {
    require(exists, s"no graft dataset at $dir")
    require(lo.isDefined || hiExcl.isDefined,
      "unbounded delete on both sides would empty the dataset; use " +
        "removeFromDisk for that")
    for (l <- lo; h <- hiExcl) require(l < h,
      s"empty delete range: lo=$l !< hiExcl=$h")
    val m = meta
    def covered(f: FileStat) =
      lo.forall(l => f.min >= l) && hiExcl.forall(h => f.max < h)
    val (touched, kept) =
      m.files.partition(GraftFileIndex.inRange(_, lo, hiExcl))
    val (dropped, partial) = touched.partition(covered)
    // metadata-only delete: swap in a sidecar of the untouched files,
    // retire the covered ones
    def dropCovered(untouched: Seq[FileStat]): DeleteReport = {
      Sidecar.write(conf, dir,
        m.copy(files = untouched.sortBy(f => (f.min, f.id))))
      retire(dropped)
      cleanOrphans(fs)
      DeleteReport(dropped.size, 0, untouched.size,
        dropped.map(_.rows).sum)
    }
    if (dropped.isEmpty && partial.isEmpty)
      DeleteReport(0, 0, kept.size, 0L)
    else if (partial.isEmpty) dropCovered(kept)
    else {
      // boundary files: rewrite only them, keeping rows OUTSIDE the range
      val d0 = filesDFOf(m, partial)
      val dt = d0.schema(m.orderedOn).dataType
      val survive = (
        lo.map(l => col(m.orderedOn) < l.bound(dt)),
        hiExcl.map(h => col(m.orderedOn) >= h.bound(dt))) match {
        case (Some(a), Some(b)) => a || b
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case (None, None)       => lit(false) // unreachable: covered(f)
      }
      // every partial file keeps ≥1 row (its min or max lies outside
      // the range by definition of "partial"), so d is never empty;
      // persist: the survivors feed a count AND the materialize write
      val d = d0.filter(survive).persist()
      try {
        val survivors = d.count()
        val partialRows = partial.map(_.rows).sum
        if (survivors == partialRows) {
          // the straddling files hold NO rows inside the range — file
          // min/max stats cannot see an empty interior, but the count
          // just did (an idempotent repeat of a delete is the common
          // case). Rewriting them would churn bytes to delete
          // nothing: drop any covered files metadata-only and leave
          // the boundary files untouched.
          if (dropped.isEmpty) DeleteReport(0, 0, m.files.size, 0L)
          else dropCovered(kept ++ partial)
        } else {
          val opts = WriteOpts(m.orderedOn,
            NRows(math.max(1L, partial.map(_.rows).max)),
            colStats = m.files.exists(_.cols.nonEmpty))
          val rep = materialize(d, survivors, partial ++ dropped, kept,
            Some(m), opts, m.orderedType, hasProvenance = false)
          DeleteReport(dropped.size, partial.size, kept.size,
            partialRows + dropped.map(_.rows).sum - rep.rowsWritten)
        }
      } finally d.unpersist(): Unit
    }
  }

  /** The upsert body. Under [[write]]/[[writeGuarded]] it runs inside
    * the write lock; under [[writeOptimistic]] it runs UNLOCKED with
    * `optimistic = true`, and every sidecar-mutating section goes
    * through [[commitSection]], which takes the lock briefly and
    * validates the generation `m0` was read at is still current.
    */
  private def writeBody(batch: DataFrame, opts: WriteOpts,
      optimistic: Boolean = false,
      combine: Seq[Column] = Nil,
      known: Option[BatchStats] = None): UpsertReport = {
    val m0: Option[DatasetMeta] = if (exists) Some(meta) else None
    m0.foreach { m =>
      require(m.orderedOn == opts.orderedOn,
        s"ordered_on is fixed at creation: ${m.orderedOn} != ${opts.orderedOn}")
      // schema check (ref write.py check + OUPS_NEEDS_CHECK_SCHEMA):
      // files with divergent columns would read back with the missing
      // columns silently null — corruption, not evolution. Name-set +
      // per-column type equality; column ORDER is free (parquet reads
      // by name).
      if (m.schemaJson.nonEmpty) {
        val stored = DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType]
        val batchProvStripped = batch.schema.fields
          .filterNot(f => f.name == SeqCol || f.name == RidCol)
        val sMap = stored.fields.map(f => f.name -> f.dataType).toMap
        val bMap = batchProvStripped.map(f => f.name -> f.dataType).toMap
        if (!opts.mergeSchema)
          require(sMap.keySet == bMap.keySet,
            s"batch schema does not match dataset: missing " +
              s"${sMap.keySet -- bMap.keySet}, extra " +
              s"${bMap.keySet -- sMap.keySet} (set mergeSchema = true " +
              "for additive evolution)")
        else {
          // Spark resolves names case-insensitively by default: a batch
          // column differing only in case must MATCH the stored column
          // (checked below / renamed in effBatch), never append as a
          // second one — that would null the real column and make
          // every later reference ambiguous
          val collide = batchProvStripped.map(_.name)
            .groupBy(_.toLowerCase).values.filter(_.size > 1)
          require(collide.isEmpty,
            "batch has case-colliding column names: " +
              collide.map(_.mkString("/")).mkString(", "))
        }
        // types must agree on the (case-insensitive) intersection in
        // BOTH modes — a type change is corruption, not evolution.
        // Compared NULLABILITY-INSENSITIVELY (container element/field
        // nullability included): file sources relax everything to
        // nullable on read, so a compaction that re-reads its own
        // parquet must not be rejected against the tighter creation
        // schema.
        def norm(dt: DataType): DataType =
          org.apache.spark.sql.graftbridge.SparkInternals.asNullable(
            StructType(Seq(StructField("x", dt)))).fields(0).dataType
        val mismatched = sMap.collect {
          case (n, dt) if bMap.collectFirst {
            case (bn, bdt) if bn.equalsIgnoreCase(n) &&
              norm(bdt) != norm(dt) => bdt
          }.isDefined =>
            s"$n: $dt != ${bMap.collectFirst {
              case (bn, bdt) if bn.equalsIgnoreCase(n) => bdt }.get}"
        }
        require(mismatched.isEmpty,
          s"batch column types do not match dataset: ${mismatched.mkString("; ")}")
      }
    }
    require(batch.columns.contains(opts.orderedOn),
      s"batch lacks ordered_on column ${opts.orderedOn}")

    // Additive schema evolution (mergeSchema): conform the batch to
    // stored ∪ batch — stored columns absent from the batch are
    // null-filled, batch-only columns append after the stored ones.
    // Files written earlier keep their narrower physical schema; every
    // read goes through the sidecar schema (read), which serves
    // the missing columns as nulls — the Delta/parquet-mergeSchema
    // contract, which the reference rejects outright (write.py check).
    val storedSchema: Option[StructType] = m0
      .filter(_.schemaJson.nonEmpty)
      .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
    val effBatch = (storedSchema, opts.mergeSchema) match {
      case (Some(st), true) =>
        val bFields = batch.schema.fields
          .filterNot(f => f.name == SeqCol || f.name == RidCol)
        // name matching is case-insensitive (Spark's default
        // resolution); a case-variant batch column conforms to the
        // STORED spelling rather than appending a twin
        def batchNameFor(n: String): Option[String] =
          bFields.collectFirst {
            case f if f.name.equalsIgnoreCase(n) => f.name
          }
        val extra = bFields.filterNot(f =>
          st.fields.exists(_.name.equalsIgnoreCase(f.name)))
        val prov = batch.columns.filter(c => c == SeqCol || c == RidCol)
        batch.select((st.fields.map(f => batchNameFor(f.name) match {
          case Some(bn) => col(bn).as(f.name)
          case None     => lit(null).cast(f.dataType).as(f.name)
        }) ++ extra.map(f => col(f.name))).toSeq ++
          prov.map(col): _*)
      case _ => batch
    }
    val ordType = typeTag(effBatch.schema(opts.orderedOn).dataType)
    // the batch feeds the stats action AND the write: cache it, unless
    // the caller brought the stats and only the write reads it
    val cached = if (known.isEmpty) effBatch.persist() else effBatch
    try {
      val stats = known.getOrElse {
        val st = cached.agg(
          min(opts.orderedOn), max(opts.orderedOn), count(lit(1)),
          count(col(opts.orderedOn))).head()
        // reject null ordered_on up front: null rows would fall outside
        // every file's [min,max] and become invisible to range scans
        requireNoNulls(opts.orderedOn, st.getLong(2) - st.getLong(3))
        BatchStats(st.getLong(2), Option(st.get(0)).map(OrdVal.fromAny),
          Option(st.get(1)).map(OrdVal.fromAny))
      }
      val batchRows = stats.rows
      if (batchRows == 0) {
        val m = m0.getOrElse(DatasetMeta(opts.orderedOn, ordType, Nil,
          Map.empty, 0L, cached.drop(SeqCol, RidCol).schema.json))
        commitSection(optimistic, m0.map(_.generation)) {
          Sidecar.write(conf, dir,
            m.copy(kv = m.kv ++ opts.kv -- opts.kvRemove))
        }
        return UpsertReport(0, m.files.size, 0, 0)
      }
      val (bMin, bMax) = (stats.min.get, stats.max.get)

      val files = m0.map(_.files).getOrElse(Nil)
      val (rewriteIdx, keepIdx) = planRewrite(files, bMin, bMax, opts)
      val rewrite = rewriteIdx.map(files)
      val kept = keepIdx.map(files)

      // ---- the single data-touching job ----
      val dataCols = cached.columns.filterNot(c => c == SeqCol || c == RidCol)
      val existing: Option[DataFrame] = if (rewrite.isEmpty) None else {
        val nameToSeq = rewrite.zipWithIndex
          .flatMap { case (f, i) => Seq(lit(f.name), lit(i.toLong)) }
        // read through the TARGET schema (batch ∪ stored): overlap
        // files written before an additive evolution serve the newer
        // columns as nulls instead of breaking the union
        val target = storedSchema.map(_ =>
          org.apache.spark.sql.graftbridge.SparkInternals.asNullable(
            StructType(cached.schema.fields
              .filterNot(f => f.name == SeqCol || f.name == RidCol))))
        Some(read(m0.get, rewrite, target)
          .withColumn(SeqCol, element_at(
            map(nameToSeq: _*),
            regexp_extract(input_file_name(), "[^/]+$", 0)))
          .withColumn(RidCol, monotonically_increasing_id()))
      }
      val incoming = cached
        .withColumn(SeqCol, lit(Long.MaxValue))
        .withColumn(RidCol, monotonically_increasing_id())
      val unioned = existing match {
        case Some(e) => e.select(dataCols.toSeq.map(col) ++ Seq(col(SeqCol), col(RidCol)): _*)
          .unionByName(incoming.select(dataCols.toSeq.map(col) ++ Seq(col(SeqCol), col(RidCol)): _*))
        case None => incoming
      }
      val deduped = opts.duplicatesOn match {
        case None => unioned
        case Some(subset0) =>
          val subset =
            if (subset0.isEmpty) dataCols.toSeq
            else (subset0 :+ opts.orderedOn).distinct
          if (combine.nonEmpty) {
            // provenance carries through as max seq / min rid, the
            // order materialize lays ties out in
            val aggs = combine ++
              Seq(max(SeqCol).as(SeqCol), min(RidCol).as(RidCol))
            unioned.groupBy(subset.map(col): _*)
              .agg(aggs.head, aggs.tail: _*)
              .select((dataCols.toSeq :+ SeqCol :+ RidCol).map(col): _*)
          } else {
            val w = Window.partitionBy(subset.map(col): _*)
              .orderBy(col(SeqCol).desc, col(RidCol).desc)
            unioned.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          }
      }

      // size files from the POST-dedup count when deduping: heavy-
      // duplicate upserts (every AggStream combining write folds most
      // of its batch into the slice it rewrites) would otherwise land
      // every file near half target — permanently off-target with
      // nothing to coalesce them. The count re-runs the dedup lineage
      // over the merge slice ∪ batch, so it runs only when it can
      // change the file count:
      // never for a TimePeriod target (materialize sizes by period, not
      // by rows), and not when even the pre-dedup bound fits one file.
      val rowsBound = rewrite.map(_.rows).sum + batchRows
      val totalIn = (opts.duplicatesOn, opts.target) match {
        case (Some(_), NRows(n)) if rowsBound > n => deduped.count()
        case _ => rowsBound
      }
      materialize(deduped, totalIn, rewrite, kept, m0, opts, ordType,
        hasProvenance = true, optimistic = optimistic)
    } finally if (known.isEmpty) cached.unpersist(): Unit
  }

  /** Test seam (OptimisticWriteSpec): runs after an optimistic prepare
    * completes, before its commit gate — the window where a competing
    * commit can land. No-op in production. */
  private[store] var beforeOptimisticCommit: () => Unit = () => ()

  /** The commit critical section: a no-op wrapper on the locked path
    * (the caller already holds the lock); on the optimistic path,
    * take the lock briefly — queueing up to [[OrderedDataset.CommitWaitMs]],
    * since the section is milliseconds — and validate that the
    * generation the plan was built against is still the live one.
    */
  private def commitSection[T](optimistic: Boolean,
      expected: Option[Long])(body: => T): T =
    if (!optimistic) body
    else withWriteLockWait(
      math.max(OrderedDataset.lockWaitMs, OrderedDataset.CommitWaitMs)) {
      val now = if (exists) Some(meta.generation) else None
      if (now != expected)
        throw new OrderedDataset.WriteConflictException(dir, expected, now)
      body
    }

  /** Stamp replaced files' mtime as their retirement time; they stay
    * readable until `retireGraceMs` passes (see cleanOrphans).
    */
  private def retire(files: Seq[FileStat]): Unit =
    files.foreach { f =>
      try fs.setTimes(new HPath(s"$dir/${f.name}"),
        System.currentTimeMillis(), -1)
      catch { case _: java.io.FileNotFoundException => () }
    }

  /** Shared execution tail of upsert and compaction: size into range
    * partitions, write one file per partition to a tmp dir, then commit
    * (move files in, swap sidecar atomically, retire the replaced
    * files).
    *
    * Scale notes: the write is ONE Spark SQL execution (range sample,
    * shuffle, write), and the sidecar entry of every file comes from
    * the tasks that wrote it ([[FileStatsTracker]]) — the commit opens
    * no written file again, so its cost past the write is the renames
    * and one sidecar swap, whatever the file count.
    */
  private def materialize(data: DataFrame, totalIn: Long,
      rewrite: Seq[FileStat], kept: Seq[FileStat],
      m0: Option[DatasetMeta], opts: WriteOpts, ordType: String,
      hasProvenance: Boolean, optimistic: Boolean = false): UpsertReport = {
    // unique per-writer tmp dir: concurrent or crashed writers never
    // share (or clobber) each other's in-flight output
    val tmpDir =
      s"$dir/$TmpDirPrefix${java.util.UUID.randomUUID().toString.take(12)}"
    val ord = col(opts.orderedOn)
    val tieCols =
      if (hasProvenance) Seq(ord, col(SeqCol), col(RidCol)) else Seq(ord)
    // secondary clustering (see WriteOpts.clusterBy): file ASSIGNMENT
    // stays a range of orderedOn (repartitionByRange below — zone maps
    // untouched), but the intra-file LAYOUT leads with the cluster
    // columns so parquet row-group stats get tight ranges on them.
    // Sticky via kv, evolution-safe (columns absent from this batch
    // are skipped). Note: intra-file order is the provenance order a
    // LATER dedup-merge uses for equal-key ties among existing rows —
    // clustering makes that order the clustered one, still
    // deterministic.
    val kv0 = m0.fold(Map.empty[String, String])(_.kv)
    val effClusterCols =
      (if (opts.clusterBy.nonEmpty) opts.clusterBy
       else OrderedDataset.stickyCols(kv0, OrderedDataset.ClusterColsKey))
        .filter(data.columns.contains)
    val layout = effClusterCols.map(col) ++ tieCols
    val sized = opts.target match {
      case NRows(n) =>
        val nOut = math.max(1L, math.ceil(totalIn.toDouble / n).toLong).toInt
        data.repartitionByRange(nOut, tieCols: _*)
          .sortWithinPartitions(layout: _*)
      case TimePeriod(unit) =>
        // Driver-side period planning (planRewrite.truncPeriod) works
        // in UTC; date_trunc below uses the SESSION zone. They agree
        // for TIMESTAMP_NTZ always, and for LTZ TIMESTAMP only under a
        // UTC session — reject the silently-inconsistent combination.
        val tzOk = {
          val tz = spark.sessionState.conf.sessionLocalTimeZone
          data.schema(opts.orderedOn).dataType != TimestampType ||
            java.time.ZoneId.of(tz).normalized ==
              java.time.ZoneOffset.UTC.normalized
        }
        require(tzOk,
          "TimePeriod targets on a session-timezone TIMESTAMP column " +
            "require spark.sql.session.timeZone=UTC (driver-side period " +
            "planning truncates in UTC); use TIMESTAMP_NTZ or a UTC session")
        // EXACT one-partition-per-period (ref time_period_strategy):
        // collect the (bounded — one per hour/day/week/month in range)
        // distinct period set on the driver, map period → partition id,
        // and place rows with an identity partitioner. Unlike
        // repartitionByRange, no sampling is involved, so a file never
        // spans periods and each period lands in exactly one file. The
        // RDD hop is the one place Spark has no declarative equivalent
        // (a user-defined exact partitioner).
        val p = date_trunc(unit, ord).cast("timestamp_ntz")
        val periods = data.select(p.as("__p")).distinct().collect()
          .map(r => OrdVal.fromAny(r.get(0))).sorted
        require(periods.nonEmpty, "no rows to materialize")
        val pidEntries = periods.zipWithIndex.flatMap { case (pv, i) =>
          Seq(pv.bound(TimestampNTZType), lit(i))
        }
        val withPid = data.withColumn("__pid",
          element_at(map(pidEntries.toSeq: _*), p))
        val schema = withPid.schema
        val n = periods.length
        val rdd = withPid.rdd
          .map(r => (r.getAs[Int]("__pid"), r))
          .partitionBy(new org.apache.spark.Partitioner {
            def numPartitions: Int = n
            def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .map(_._2)
        spark.createDataFrame(rdd, schema)
          .sortWithinPartitions(layout: _*).drop("__pid")
    }
    // bloom-column continuity: an explicit request wins; otherwise a
    // dataset that was created with blooms keeps writing them on every
    // append AND every compaction (optimize passes no opts), so no file
    // silently loses its point-lookup skipping
    val effBloomCols =
      if (opts.bloomFilterCols.nonEmpty) opts.bloomFilterCols
      else OrderedDataset.stickyCols(kv0, OrderedDataset.BloomColsKey)
    val out = if (hasProvenance) sized.drop(SeqCol, RidCol) else sized
    val writtenSchema = out.schema
    // per-file HLL sketches (WriteOpts.sketchCols, sticky via kv), merged
    // driver-side later by approxDistinct with zero data IO
    val effSketchCols =
      (if (opts.sketchCols.nonEmpty) opts.sketchCols
       else OrderedDataset.stickyCols(kv0, OrderedDataset.SketchColsKey))
        .filter(c => writtenSchema.fields.exists(f => f.name == c &&
          FileStatsTracker.sketchable(f.dataType)))

    // ---- the write: each file's sidecar entry is built by the task
    // writing it (rows, ordered and secondary zone maps, sketches,
    // length) — no pass re-reads the written files ----
    val tracker = new FileStatsTracker(writtenSchema, opts.orderedOn,
      FileStatsTracker.statColumns(writtenSchema, opts.orderedOn,
        opts.colStats), effSketchCols,
      new org.apache.spark.util.SerializableConfiguration(conf))
    org.apache.spark.sql.graftbridge.SparkInternals.writeParquet(out, tmpDir,
      effBloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
        .toMap, Seq(tracker))
    val written = tracker.files.sortBy(_.min)

    // stats-dtype guards (ref base.py:338-357): fail BEFORE any rename,
    // leaving the dataset untouched (tmp dir removed here, and swept by
    // cleanOrphans anyway)
    if (kept.size + written.length > MaxFilesPerDataset) {
      fs.delete(new HPath(tmpDir), true)
      throw new IllegalStateException(
        s"dataset $dir would hold ${kept.size + written.length} files, " +
          s"over the $MaxFilesPerDataset-file stats limit; raise the " +
          "row-group target, compact, or shard the corpus across store " +
          "keys (Store.shardedWrite)")
    }
    written.find(_.rows > MaxRowsPerFile).foreach { f =>
      fs.delete(new HPath(tmpDir), true)
      throw new IllegalStateException(
        s"row group would hold ${f.rows} rows, over the " +
          s"$MaxRowsPerFile-row stats limit; lower the row-group target")
    }

    // ---- commit: move files in, swap sidecar, retire replaced ----
    // under the optimistic gate the whole section runs inside a brief
    // lock hold with the plan's generation re-validated first; a
    // conflict throws BEFORE any rename, so the only residue of a
    // losing prepare is its tmp dir, removed in the handler below
    if (optimistic) beforeOptimisticCommit()
    try commitSection(optimistic, m0.map(_.generation)) {
    var nextId = m0.map(_.nextFileId).getOrElse(0L)
    val newStats = written.map { f =>
      val id = nextId; nextId += 1
      val newName = f"f$id%08d.parquet"
      if (!fs.rename(new HPath(s"$tmpDir/${f.name}"),
        new HPath(s"$dir/$newName")))
        throw new java.io.IOException(
          s"commit failed: rename of ${f.name} to " +
            s"$dir/$newName returned false; dataset unchanged " +
            "(sidecar not yet swapped)")
      f.copy(id = id, name = newName)
    }
    val allStats = (kept ++ newStats).sortBy(f => (f.min, f.id))
    val bloomKv =
      if (effBloomCols.isEmpty) Map.empty[String, String]
      else Map(OrderedDataset.BloomColsKey -> effBloomCols.mkString(","))
    val clusterKv =
      if (effClusterCols.isEmpty) Map.empty[String, String]
      else Map(OrderedDataset.ClusterColsKey -> effClusterCols.mkString(","))
    val sketchKv =
      if (effSketchCols.isEmpty) Map.empty[String, String]
      else Map(OrderedDataset.SketchColsKey -> effSketchCols.mkString(","))
    val newKv = m0.map(_.kv).getOrElse(Map.empty) ++ bloomKv ++
      clusterKv ++ sketchKv ++ opts.kv -- opts.kvRemove
    Sidecar.write(conf, dir,
      DatasetMeta(opts.orderedOn, ordType, allStats, newKv, nextId,
        writtenSchema.json))
    // RETIRE replaced files instead of deleting them: readers that
    // resolved their file list against the previous sidecar keep reading
    // until the grace window passes (cleanOrphans reaps them under a
    // later writer's lock). Touching mtime stamps the retirement time.
    retire(rewrite)
    fs.delete(new HPath(tmpDir), true)
    // reap retirees whose grace window has already passed (bounds disk
    // growth under steady writes without waiting for the next writer)
    cleanOrphans(fs)
    UpsertReport(rewrite.size, kept.size, newStats.size,
      newStats.map(_.rows).sum)
    } catch {
      case e: OrderedDataset.WriteConflictException =>
        fs.delete(new HPath(tmpDir), true)
        throw e
    }
  }

  /** Explicit compaction (the standalone analog of the upsert's
    * off-target coalescing, ref base.py:505-633 / Delta OPTIMIZE):
    * rewrite every contiguous run of ≥2 off-target files to target
    * size. No-op for an already-compacted dataset. Each run is one
    * bounded Spark job touching only that run's files; the rest of the
    * dataset is never read.
    *
    * `lo`/`hiExcl` restrict compaction to files overlapping that range
    * of the ordered column (Delta's `OPTIMIZE … WHERE` analog): a
    * steadily-appended dataset compacts its hot tail without the
    * planner even considering the cold head's files. Scoped files are
    * contiguous in stats order, so run detection inside the scope is
    * unchanged.
    */
  def optimize(target: RowGroupTarget,
      clusterBy: Seq[String] = Nil,
      lo: Option[OrdVal] = None,
      hiExcl: Option[OrdVal] = None): Int = withWriteLock {
    val m = meta
    val scoped = m.files.filter(GraftFileIndex.inRange(_, lo, hiExcl))
    // re-clustering request: even already-on-target files need a
    // rewrite when the caller asks for a NEW cluster layout (sticky
    // columns flow through kv; passing the current ones again is a
    // no-op unless sizes are off-target)
    val wantCluster = clusterBy.filterNot(OrderedDataset
      .stickyCols(m.kv, OrderedDataset.ClusterColsKey).contains)
    // contiguous runs of files to rewrite, in stats order, tracked by
    // file identity (positions shift as each run is rewritten)
    val runs = target match {
      case NRows(n) =>
        // runs of >=2 off-target (undersized) neighbors
        val onTargetRows = (n * OnTargetFraction).toLong
        val rs = scala.collection.mutable.ListBuffer.empty[Seq[FileStat]]
        val cur = scala.collection.mutable.ListBuffer.empty[FileStat]
        scoped.foreach { f =>
          if (f.rows < onTargetRows) cur += f
          else { if (cur.size >= 2) rs += cur.toSeq; cur.clear() }
        }
        if (cur.size >= 2) rs += cur.toSeq
        rs.toSeq
      case TimePeriod(unit) =>
        // normalize to one-file-per-period: group files whose period
        // intervals [period(min), period(max)] touch (files sorted by
        // min, so overlap means sharing a period with the previous
        // file); rewrite any group with >1 file or a period-spanning
        // single file — the exact partitioner then splits per period.
        val rs = scala.collection.mutable.ListBuffer.empty[Seq[FileStat]]
        val cur = scala.collection.mutable.ListBuffer.empty[FileStat]
        var curMaxP = Long.MinValue
        def flush(): Unit = {
          if (cur.size >= 2 ||
              cur.toSeq.exists(f => truncPeriod(f.min, unit)
                != truncPeriod(f.max, unit)))
            rs += cur.toSeq
          cur.clear()
        }
        scoped.foreach { f =>
          if (cur.nonEmpty && truncPeriod(f.min, unit) > curMaxP) flush()
          cur += f
          curMaxP = math.max(curMaxP, truncPeriod(f.max, unit))
        }
        flush()
        rs.toSeq
    }
    // a NEW cluster layout additionally rewrites every file the size
    // runs did not already cover. Clustering is intra-file, but one
    // job PER FILE serialized ~1.7 s of job+commit overhead each —
    // measured ~3 h for the 6.7k-file 100× fixture (SCALE.md r11d) —
    // so CONTIGUOUS uncovered files chunk into bounded multi-file
    // runs: same rewrite (repartitionByRange re-derives boundaries
    // within the chunk's range, like any size run), 1/256th the
    // commits. Chunks never span a size-run file, so no rewritten
    // file straddles another run's range.
    val allRuns =
      if (wantCluster.isEmpty) runs
      else {
        val covered = runs.flatten.map(_.name).toSet
        val chunks = scala.collection.mutable.ListBuffer.empty[Seq[FileStat]]
        val cur = scala.collection.mutable.ListBuffer.empty[FileStat]
        def flush(): Unit = { if (cur.nonEmpty) chunks += cur.toSeq
          cur.clear() }
        scoped.foreach { f =>
          if (covered(f.name)) flush()
          else {
            cur += f
            if (cur.size >= OrderedDataset.ClusterRewriteChunk) flush()
          }
        }
        flush()
        runs ++ chunks.toSeq
      }
    allRuns.foreach { runFiles =>
      val mNow = meta
      val runNames = runFiles.map(_.name).toSet
      val keptFiles = mNow.files.filterNot(f => runNames.contains(f.name))
      val df = filesDFOf(mNow, runFiles)
      materialize(df, runFiles.map(_.rows).sum, runFiles, keptFiles,
        Some(mNow), WriteOpts(mNow.orderedOn, target,
          clusterBy = clusterBy),
        mNow.orderedType, hasProvenance = false)
    }
    allRuns.size
  }

  /** Driver-side period truncation of a sidecar stat, µs epoch — must
    * agree with `date_trunc(unit, …)` (UTC, ISO Monday weeks). */
  private def truncPeriod(v: OrdVal, unit: String): Long = v match {
    case OrdTs(us) =>
      val ldt = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000).toInt,
        java.time.ZoneOffset.UTC)
      val t = unit.toLowerCase match {
        case "hour" => ldt.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
        case "day"  => ldt.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
        case "week" =>
          ldt.toLocalDate.`with`(java.time.DayOfWeek.MONDAY).atStartOfDay()
        case "month" => ldt.toLocalDate.withDayOfMonth(1).atStartOfDay()
        case other => throw new IllegalArgumentException(
          s"unsupported period unit $other")
      }
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    case other => throw new IllegalArgumentException(
      s"TimePeriod requires a timestamp ordered_on, got ${other.typeTag}")
  }

  /** Driver-side rewrite planner: overlap detection (ref
    * merge_split_strategies/base.py:184-354), equal-boundary chaining so
    * cross-file duplicates are found (ref base.py:293-308), and
    * off-target neighbor compaction (ref base.py:505-633,
    * n_rows_strategy.py:152-207). Returns (rewrite indices, keep
    * indices), both in stats order.
    */
  private def planRewrite(files: Seq[FileStat], bMin: OrdVal, bMax: OrdVal,
      opts: WriteOpts): (Seq[Int], Seq[Int]) = {
    if (files.isEmpty) return (Nil, Nil)
    var i = files.indexWhere(f => f.max >= bMin)
    var j = files.lastIndexWhere(f => f.min <= bMax)
    if (i == -1 || j < i) {
      // pure insert, no value-range overlap: point i at the TRUE
      // insertion position (first file strictly after the batch), j at
      // its predecessor, so the neighbor-sensitive logic below (period
      // absorption, off-target runs) sees the actual neighbors. ADVICE
      // r2: collapsing to head/tail here made the period fixpoint
      // compare the LAST file's period to a batch inserted in the
      // middle, leaving two files in one period.
      i = files.indexWhere(f => f.min > bMax)
      if (i == -1) i = files.size
      j = i - 1
    }
    // equal-boundary chains (split-point protection, only matters with dedup)
    if (opts.duplicatesOn.isDefined && i <= j) {
      while (i > 0 && files(i - 1).max == files(i).min) i -= 1
      while (j + 1 < files.size && files(j + 1).min == files(j).max) j += 1
    }
    // TimePeriod targets: absorb kept neighbors sharing a period with
    // the written range, else a batch landing in an already-covered
    // period (without overlapping its file's value range) would leave
    // two files in one period. Fixpoint loop: an absorbed spanning file
    // can widen the range into further periods (caught by the
    // TimePeriod upsert property test).
    //
    // With `maxNOffTargetRgs` set, absorption is LAZY instead (the
    // reference's semantics, ref time_period_strategy.py:164-221):
    // small same-period appends are allowed to accumulate and only
    // coalesce once the adjacent off-target run reaches the threshold —
    // steady appends then cost O(appended) instead of rewriting the
    // whole period file every time.
    opts.target match {
      case TimePeriod(_) if opts.maxNOffTargetRgs.isDefined => ()
      case TimePeriod(unit) =>
        def rangeMin =
          if (i <= j && i >= 0 && i < files.size) Seq(files(i).min, bMin).min
          else bMin
        def rangeMax =
          if (i <= j && j >= 0 && j < files.size) Seq(files(j).max, bMax).max
          else bMax
        var changed = true
        while (changed) {
          changed = false
          if (i > 0 && truncPeriod(files(i - 1).max, unit)
              == truncPeriod(rangeMin, unit)) {
            i -= 1; if (j < i) j = i; changed = true
          }
          if (j + 1 < files.size && truncPeriod(files(j + 1).min, unit)
              == truncPeriod(rangeMax, unit)) {
            j += 1; if (i > j) i = j; changed = true
          }
        }
      case _ => ()
    }
    // off-target neighbor coalescing: absorb a contiguous run of
    // off-target files adjacent to the merge region once the run is
    // longer than maxNOffTargetRgs — the compaction trigger that stops
    // tiny row groups accumulating under steady appends.
    opts.maxNOffTargetRgs.foreach { maxN =>
      val offTarget: Int => Boolean = opts.target match {
        case NRows(n) => idx => files(idx).rows < (n * OnTargetFraction).toLong
        case TimePeriod(unit) =>
          // reference on-target predicate (time_period_strategy.py:
          // 164-221): a row group is on target iff it fits in a single
          // period AND is alone in that period. A file sharing the
          // incoming batch's period is counted off-target too — after
          // this write its period would hold two files.
          val pMin = files.map(f => truncPeriod(f.min, unit))
          val pMax = files.map(f => truncPeriod(f.max, unit))
          val bLo = truncPeriod(bMin, unit)
          val bHi = truncPeriod(bMax, unit)
          idx =>
            pMin(idx) != pMax(idx) ||
              (idx > 0 && pMax(idx - 1) == pMin(idx)) ||
              (idx + 1 < files.size && pMin(idx + 1) == pMax(idx)) ||
              (pMax(idx) >= bLo && pMin(idx) <= bHi)
      }
      var lo = i - 1
      while (lo >= 0 && offTarget(lo)) lo -= 1
      if ((i - 1) - lo >= maxN) i = lo + 1
      var hi = if (j < i) i else j + 1
      var h = hi
      while (h < files.size && offTarget(h)) h += 1
      if (h - hi >= maxN) j = h - 1
    }
    val rewrite = (i to j).filter(k => k >= 0 && k < files.size)
    val rewriteSet = rewrite.toSet
    val keep = files.indices.filterNot(rewriteSet.contains)
    (rewrite, keep)
  }
}

object OrderedDataset {
  val SeqCol = "__graft_seq"
  val RidCol = "__graft_rid"
  val TmpDirPrefix = "_tmp_write-"
  val DataFileRe = "f(\\d{8,})\\.parquet".r
  val LockName = ".lock"
  /** kv key recording the dataset's bloom-filter columns (see
    * WriteOpts.bloomFilterCols continuity in materialize). */
  val BloomColsKey = "graft.bloom.cols"
  /** kv key recording the dataset's sticky clustering columns (see
    * WriteOpts.clusterBy continuity in materialize). */
  val ClusterColsKey = "graft.cluster.cols"
  /** kv key recording the dataset's sticky HLL-sketch columns (see
    * WriteOpts.sketchCols continuity in materialize). */
  val SketchColsKey = "graft.sketch.cols"
  /** lgConfigK of every per-file sketch (DataSketches HLL): 2^12
    * registers ≈ 1.6 % relative standard error, ~2 KB compact — the
    * Spark `hll_sketch_agg` default. One constant everywhere so any
    * two sketches in any sidecar are union-compatible. */
  val HllLgK = 12

  /** A batch's row count — or, from a caller that cannot count its
    * rows exactly, an upper bound — and its ordered [min, max] (None
    * when it has no rows). */
  private[graft] final case class BatchStats(rows: Long,
      min: Option[OrdVal], max: Option[OrdVal])

  /** The ordered store needs a total order: rows with a null ordered
    * value would fall outside every file's [min, max]. */
  private[graft] def requireNoNulls(orderedOn: String, nulls: Long): Unit =
    require(nulls == 0,
      s"ordered_on '$orderedOn' contains $nulls null values; the ordered " +
        "store requires a total order — drop or fill them first")

  /** The sticky layout columns recorded under `key` in a dataset's kv
    * (comma-joined; absent = none). */
  private[store] def stickyCols(kv: Map[String, String], key: String)
      : Seq[String] =
    kv.get(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** Base64 of the per-file HLL sketch collected in `r`'s `field`. A
    * file whose column is entirely null sketches as EMPTY (0 distinct),
    * not absent — absence means "written before sketching was enabled"
    * and poisons the dataset-wide merge. */
  private[store] def hllBase64(r: org.apache.spark.sql.Row, field: String)
      : String = {
    val i = r.fieldIndex(field)
    val bytes =
      if (r.isNullAt(i))
        new org.apache.datasketches.hll.HllSketch(HllLgK).toCompactByteArray
      else r.getAs[Array[Byte]](i)
    java.util.Base64.getEncoder.encodeToString(bytes)
  }

  val LockStaleMs = 120000L
  val LockRefreshMs = 15000L
  /** Poll interval while queueing on a held lock. */
  val LockPollMs = 100L

  /** How long a writer WAITS for a held (fresh) lock before giving up.
    * 0 = fail fast, the reference's flufl contract (its callers hold
    * the lock for the object lifetime, so waiting is pointless there).
    * Raised, concurrent writers queue — the right mode for independent
    * jobs appending to one dataset, since commits are short (one
    * sidecar swap after the Spark job finishes). Library-level knob.
    */
  @volatile var lockWaitMs: Long = 0L

  /** Queue floor for the optimistic commit gate's brief lock hold
    * (renames + sidecar swap — milliseconds): unlike a full write,
    * waiting is always right there. */
  val CommitWaitMs: Long = 10000L

  /** Thrown by [[OrderedDataset.writeOptimistic]]'s commit gate when
    * the generation its plan was built against is no longer live —
    * the prepared output is discarded and the write re-plans. */
  final class WriteConflictException(dir: String,
      expected: Option[Long], found: Option[Long])
    extends RuntimeException(
      s"optimistic commit conflict on $dir: planned against " +
        s"generation ${expected.map(_.toString).getOrElse("<absent>")}" +
        s", live is ${found.map(_.toString).getOrElse("<absent>")}")

  /** How long a commit keeps the files it replaced on disk so that
    * concurrent readers holding a plan from the previous sidecar can
    * finish (see cleanOrphans). Library-level policy knob.
    */
  @volatile var retireGraceMs: Long = 600000L

  /** Sidecar-stats bounds (ref base.py:338-357: the reference's stats
    * dtypes cap at uint16 files / uint32 rows; enforced here as explicit
    * limits so a runaway ingest fails loudly instead of corrupting
    * planning).
    */
  val MaxFilesPerDataset = 65535
  val MaxRowsPerFile = 4294967295L
  /** ≥80 % of target counts as on-target (ref n_rows_strategy.py:33). */
  val OnTargetFraction = 0.8

  /** Max files per cluster-only rewrite job in [[OrderedDataset
    * .optimize]] — bounds a chunk's input while amortizing the
    * per-job + per-commit overhead that a one-file-per-job loop pays
    * (measured ~1.7 s/file on the 6.7k-file 100× fixture). */
  val ClusterRewriteChunk = 256

  /** Secondary-column zone-map knobs (Delta's
    * dataSkippingNumIndexedCols analog and the string-prefix width).
    */
  val MaxStatCols = 32
  val StatStrPrefix = 64

  def typeTag(dt: DataType): String = dt match {
    case LongType | IntegerType            => "long"
    case DoubleType | FloatType            => "double"
    case TimestampNTZType | TimestampType  => "ts"
    case other =>
      throw new IllegalArgumentException(s"unsupported ordered_on type $other")
  }
}
