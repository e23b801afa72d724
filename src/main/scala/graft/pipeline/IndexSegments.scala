package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.GraftFileIndex
import graft.store.{DatasetMeta, OrdLong, OrderedDataset, Sidecar, WriteOpts}

/** LSM-style DELTA SEGMENTS for the store-backed index family
  * ([[Bm25Index]], [[DedupIndex]]): the write-path fix for the
  * uniform-hashed-key pathology (VERDICT r11 #1).
  *
  * The problem: every index in the family is an [[OrderedDataset]]
  * ordered on a uniformly distributed md5-prefix hkey. Probes are
  * genuinely O(increment) — zone maps route query keys to files — but
  * an increment's keys SPAN the whole keyspace, so the ordered
  * upsert's overlap planner marks essentially every file for rewrite:
  * add cost was O(index size) per increment, i.e. a daily crawl
  * increment rewrote the whole index daily.
  *
  * The fix is the standard LSM shape:
  *
  *  - the BASE run lives at `dir` (the first build — one sorted run,
  *    index kind/config kv, the replay-tag history);
  *  - each increment lands as its OWN fresh [[OrderedDataset]] under
  *    `dir/delta-<ms>-<rand>` — a brand-new dataset has no overlap to
  *    plan against, so the add's cost is sorting and writing the
  *    increment alone, and concurrent adds touch DISTINCT directories
  *    (no lock contention, no lost read-modify-write — the
  *    ADVICE-r11 buildSpanGrams lost-update window is gone
  *    structurally: count segments are summed at read time instead of
  *    merged at write time);
  *  - probes read the UNION of base + live segments: the probe keys
  *    are collected once and zone-map-routed per segment, so probe
  *    I/O stays ∝ increment × (1 + #live segments) — the standard
  *    LSM read amplification, bounded by compaction cadence;
  *  - [[compact]] periodically folds every live segment back into the
  *    base (presence kinds: one ordinary ordered upsert; count kinds:
  *    a grouped-sum [[OrderedDataset.replaceAll]] that reads the base
  *    ONCE). The fold is declared IN the base commit's own sidecar
  *    swap (kv [[FoldedKey]]), so a crash can never leave segments
  *    both merged and still counted: readers exclude folded segments
  *    the moment the base commit is visible, atomically. Folded
  *    segment dirs are reaped after the reader grace window
  *    ([[vacuum]]);
  *  - DELETES are LSM tombstones ([[removeIds]]): an id list lands as
  *    parquet + one locked kv registration, probes anti-join
  *    effective (listed − applied) tombstones from the same base-kv
  *    snapshot their scans use, the next [[compact]] purges them
  *    physically (the applied ledger rides the fold's own swap, so
  *    removes race folds safely), and [[vacuum]] reaps applied
  *    tombstone dirs, pruning both ledger keys together.
  *
  * Consistent reads: [[liveParts]] captures the BASE sidecar first and
  * derives the folded set from that one snapshot; segment scans and
  * the base scan are all built from captured metadata
  * ([[OrderedDataset.dfOf]]), so a compaction committing mid-read
  * yields either the pre-fold view (old base files stay readable for
  * the grace window) or the post-fold view — never a double count.
  */
object IndexSegments {
  val DeltaPrefix = "delta-"

  /** Base kv: [[Sep]]-joined names of delta segment dirs whose rows a
    * compaction has already folded into the base. Committed in the
    * SAME sidecar swap as the folded data — the atomicity that makes
    * the fold crash-safe. */
  val FoldedKey = "graft.index.folded"

  /** kv stamp carried by a tagged increment (replay idempotence — the
    * foreachBatch epoch discipline; see [[DedupIndex.buildSegments]]). */
  val StampKey = "graft.index.increment"

  /** Base kv: [[Sep]]-joined increment tags already folded into the
    * base by compactions, newest last, bounded at [[MaxFoldedTags]].
    * Replay protection therefore covers every live segment plus the
    * last [[MaxFoldedTags]] folded increments — far past the
    * single-epoch retry a streaming sink needs. */
  val TagsKey = "graft.index.tags"
  val MaxFoldedTags = 64

  /** Base kv: [[Sep]]-joined `name=foldTimeMs` entries, one per folded
    * segment dir still on disk — the DURABLE fold timestamps [[vacuum]]
    * measures the reader grace window from (ADVICE r12: the previous
    * mtime stamp was best-effort `fs.setTimes`, and a filesystem that
    * ignores it left folded dirs looking old enough to reap while
    * readers inside the grace window still held pre-fold plans).
    * Written in the SAME sidecar swap as [[FoldedKey]]. */
  val FoldedAtKey = "graft.index.foldedat"

  /** kv list separator — a control character no tag or dir name
    * contains. */
  val Sep = "\u001f"

  /** Largest driver-point set inlined as an isin residual on the probe
    * scan (see [[scanForProbes]]): 4096 long literals is a trivially
    * small plan, and Spark folds it to an InSet; beyond it the
    * residual is skipped and correctness rests (as before r13) on the
    * caller's equi-join alone. */
  val IsinResidualMax = 4096

  /** Over-cap dispatch: when the ESTIMATED file coverage of the full
    * probe-key set (extrapolated from a keyspace-spread sample, see
    * [[estimateCoverage]]) reaches this fraction of the union's
    * files, the pruning tier is skipped — it would pay a full
    * probe-key-lineage evaluation for nothing (the measured r13i
    * regression). Clustered keyspaces fall through to the tier. */
  val MidTierSkipAtFraction = 0.6

  /** Hash stride of the over-cap gate's key sample: the gate collects
    * up to cap+1 keys with xxhash64(key) % stride == 0 — a ~1/stride
    * subsample spread over the KEYSPACE, where the cap decision's
    * plain `limit()` collect returns whatever partitions answered
    * first (VERDICT r13: a key-clustered early partition misread as a
    * clustered keyspace, engaging the tier's full-lineage hits pass
    * on a uniform set — the exact cost the gate exists to avoid).
    * The stride also turns the sample size into a full-set-size
    * estimate (k × stride) when the limit is not reached. Residual
    * bias: the strided collect still reads partitions in scheduler
    * order, so a clustered prefix longer than stride × cap keys can
    * still dominate the sample — a full pass would close that, and
    * cost exactly what the gate is protecting. */
  val SampleStride = 16

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test seam: ms offset added to the wall clock when minting segment
    * and tombstone dir names — lets a spec simulate cross-HOST clock
    * skew between uncoordinated writers. Safe to expose because since
    * r14 the dir-name ms is debug info for segments: tombstone
    * ordering is CAUSAL ([[TombSeenKey]]), and this seam exists to
    * prove that under skew. */
  private[graft] def nowMs(): Long = System.currentTimeMillis() +
    sys.props.get("graft.test.clock.skew.ms").map(_.toLong).getOrElse(0L)

  /** Fresh segment directory name: millis prefix keeps listing order ≈
    * creation order (debuggability only — correctness never depends on
    * it), the random suffix keeps concurrent adds collision-free. */
  def newSegmentDir(dir: String): String =
    s"$dir/$DeltaPrefix${nowMs()}-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** One member of the index union: a dataset plus the CAPTURED
    * metadata every scan of it must be built from. */
  final case class Part(ds: OrderedDataset, m: DatasetMeta)

  private def splitList(s: String): Seq[String] =
    s.split(Sep).toSeq.filter(_.nonEmpty)

  private def foldedNames(baseKv: Map[String, String]): Set[String] =
    baseKv.get(FoldedKey).map(splitList(_).toSet).getOrElse(Set.empty)

  private def foldedAtMap(baseKv: Map[String, String]): Map[String, Long] =
    baseKv.get(FoldedAtKey).map(splitList(_).flatMap { e =>
      e.split('=') match {
        case Array(n, t) => scala.util.Try(n -> t.toLong).toOption
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** All COMMITTED delta segment dirs under `dir` (folded or not),
    * name-sorted. A dir without a committed sidecar (in-flight or
    * crashed add) is invisible. */
  private def allSegmentDirs(spark: SparkSession, dir: String)
      : Seq[String] = {
    val fsys = fs(spark, dir)
    val d = new HPath(dir)
    if (!fsys.exists(d)) Nil
    else fsys.listStatus(d).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(DeltaPrefix))
      // full URI, not toUri.getPath: stripping the scheme/authority
      // would resolve s3a://- or hdfs://-rooted segment dirs against
      // the DEFAULT filesystem and silently miss them (ADVICE r12)
      .map(_.getPath.toString)
      .filter(p => Sidecar.exists(spark.sparkContext.hadoopConfiguration, p))
      .sorted
  }

  /** The index union at a consistent cut: base (its sidecar captured
    * FIRST — the folded set comes from that one snapshot) followed by
    * the live (unfolded, committed) segments in creation order. Empty
    * when no base exists. */
  def liveParts(spark: SparkSession, dir: String): Seq[Part] = {
    val base = new OrderedDataset(spark, dir)
    if (!base.exists) return Nil
    val bm = base.meta // the ONE base capture everything below derives from
    val folded = foldedNames(bm.kv)
    val segs = allSegmentDirs(spark, dir)
      .filterNot(p => folded.contains(p.split('/').last))
      .map { p => val d = new OrderedDataset(spark, p); Part(d, d.meta) }
    Part(base, bm) +: segs
  }

  /** Total rows across the union — the corpus-size signal drift guards
    * read (e.g. [[DedupIndex.probeEmbedding]]'s occupancy check). */
  def totalRows(parts: Seq[Part]): Long = parts.map(_.m.totalRows).sum

  /** Full union scan over captured parts (the recount/repair path),
    * with effective tombstones applied — a recount is truth, so it
    * must not resurrect taken-down ids. */
  def unionDf(parts: Seq[Part]): DataFrame = unionDfExcept(parts, None)

  /** [[unionDf]] with one tombstone name treated as NOT effective —
    * the remove path's self-exclusion ([[Bm25Index.remove]] registers
    * its tombstone FIRST so concurrent overlapping removes cannot
    * double-count, then still needs to read its OWN ids'
    * contributions for the scalar decrement). */
  def unionDfExcept(parts: Seq[Part], exceptTomb: Option[String])
      : DataFrame = {
    require(parts.nonEmpty, "no index parts")
    val raw = parts.map(p => p.ds.dfOf(p.m))
    withTombstonesExcept(raw.head.sparkSession, parts, raw, exceptTomb)
      .reduce(_ unionByName _)
  }

  // ---------------- document takedown (tombstones) ----------------

  /** Dir-name prefix of tombstone id sets under the base dir. */
  val TombstonePrefix = "tomb-"

  /** Base kv: [[Sep]]-joined tombstone dir names REGISTERED by
    * [[removeIds]] (append-only, written under the base kv lock). */
  val TombstoneKey = "graft.index.tombstones"

  /** Base kv: [[Sep]]-joined tombstone names a compaction has APPLIED
    * (their ids are physically absent from the folded base), written
    * in the fold's own sidecar swap. Effective tombstones = listed −
    * applied — the same crash-atomic ledger discipline as
    * [[FoldedKey]], and it is what lets removes race compactions
    * WITHOUT a guard: a remove registering after the fold captured
    * its state stays effective, because the fold's applied list can
    * only name what it actually folded. */
  val TombAppliedKey = "graft.index.tombapplied"

  /** Queue budget for a remove's kv registration — a compaction fold
    * holds the base lock for its whole Spark job (the
    * [[Bm25Index.KvBumpWaitMs]] reasoning). */
  val RemoveKvWaitMs: Long = 30L * 60 * 1000

  /** Segment kv: [[Sep]]-joined tombstone names LISTED in the base kv
    * when the segment's writer started — the causal ordering record
    * (VERDICT r13 #2). A tombstone a segment observed at creation was
    * registered before it, so the segment's content is a re-add that
    * logically follows the remove and keeps its ids; a tombstone the
    * segment did NOT observe applies to it, regardless of what any
    * writer's wall clock said. Pre-r14 segments lack the stamp and
    * fall back to the dir-name-ms rule (single-clock only). */
  val TombSeenKey = "graft.index.tombseen"

  def newTombstoneDir(dir: String): String =
    s"$dir/$TombstonePrefix${nowMs()}-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Take ids down from the index union at `dir` — the LSM
    * delete-marker: ids parquet lands under a fresh `tomb-<ms>-`
    * dir (cost ∝ the id list, no index read or rewrite), then the
    * name is registered in the base kv under the lock. Every probe,
    * [[unionDf]] recount, and fold anti-joins effective tombstones
    * from the SAME base-kv snapshot its scans are built from (pinned
    * captures therefore pin the tombstone view too). A segment added
    * AFTER the remove re-admits the id — the LSM sequence rule,
    * ordered CAUSALLY since r14: each segment's kv records the
    * tombstones its writer observed ([[TombSeenKey]]), so the
    * ordering is immune to cross-writer clock skew (the pre-r14
    * dir-name-ms rule survives only as the fallback for unstamped
    * segments). The physical purge happens at the next [[compact]],
    * after which [[vacuum]] reaps the applied tombstone dir.
    *
    * Only meaningful for id-carrying index kinds — use
    * [[DedupIndex.removeDocs]], which dispatches per kind and rejects
    * the aggregate-count kinds (their per-doc contributions are not
    * recoverable; the remedy there is a rebuild). Registering a
    * tombstone on an id-less index makes its probes fail loudly.
    * Returns the tombstone name.
    */
  def removeIds(spark: SparkSession, dir: String, ids: DataFrame)
      : String = {
    val base = new OrderedDataset(spark, dir)
    require(base.exists, s"no graft index at $dir")
    val td = newTombstoneDir(dir)
    ids.select(col(ids.columns.head).cast("long").as("id"))
      .na.drop().distinct().write.parquet(td)
    val name = td.split('/').last
    base.transformKvWait(RemoveKvWaitMs) { kv =>
      kv + (TombstoneKey ->
        (kv.get(TombstoneKey).map(splitList).getOrElse(Nil) :+ name)
          .mkString(Sep))
    }
    name
  }

  /** Unparsable names apply to every part (conservative — an id is
    * dropped rather than resurrected). */
  private def tombNameMs(n: String): Long =
    scala.util.Try(n.stripPrefix(TombstonePrefix)
      .takeWhile(_.isDigit).toLong).getOrElse(Long.MaxValue)

  /** A part's creation time from the ms prefix of its dir name —
    * LEGACY fallback ordering for pre-r14 segments without the
    * [[TombSeenKey]] stamp (see [[applicableTombs]]). */
  private def partCreateMs(p: Part): Long = {
    val n = p.ds.dir.split('/').last
    if (n.startsWith(DeltaPrefix))
      scala.util.Try(n.stripPrefix(DeltaPrefix)
        .takeWhile(_.isDigit).toLong).getOrElse(-1L)
    else -1L
  }

  /** Effective (registered − applied) tombstones of a base-kv
    * snapshot: (name, registration ms). */
  def effectiveTombstones(baseKv: Map[String, String])
      : Seq[(String, Long)] = {
    val applied = baseKv.get(TombAppliedKey)
      .map(splitList(_).toSet).getOrElse(Set.empty)
    baseKv.get(TombstoneKey).map(splitList).getOrElse(Nil)
      .filterNot(applied).map(n => (n, tombNameMs(n)))
  }

  /** Apply the base snapshot's effective tombstones to per-part scans
    * (aligned with `parts`) — for probe paths that build their own
    * scan branches instead of going through [[scanForProbes]]
    * ([[IvfIndex]]'s probed lists). */
  def withTombstones(spark: SparkSession, parts: Seq[Part],
      scans: Seq[DataFrame]): Seq[DataFrame] =
    withTombstonesExcept(spark, parts, scans, None)

  private def withTombstonesExcept(spark: SparkSession,
      parts: Seq[Part], scans: Seq[DataFrame],
      exceptTomb: Option[String]): Seq[DataFrame] = {
    val tombs = effectiveTombstones(parts.head.m.kv)
      .filterNot(t => exceptTomb.contains(t._1))
    if (tombs.isEmpty) scans
    else parts.zip(scans).map { case (p, s) =>
      applyTombstones(spark, parts.head.ds.dir, p, s, tombs)
    }
  }

  /** Which effective tombstones apply to a part. The base takes ALL
    * (a fold that applied tombstones moved them to the applied ledger
    * in the same commit, so post-fold base content never sees them as
    * effective). A segment takes every tombstone it did NOT observe at
    * creation ([[TombSeenKey]] — the causal rule: immune to
    * cross-writer clock skew, VERDICT r13 #2). A pre-r14 segment
    * without the stamp falls back to the wall-clock dir-name rule
    * (registration ms ≥ creation ms), which assumes a single clock. */
  private def applicableTombs(p: Part, tombs: Seq[(String, Long)])
      : Seq[String] = {
    val n = p.ds.dir.split('/').last
    if (!n.startsWith(DeltaPrefix)) tombs.map(_._1)
    else p.m.kv.get(TombSeenKey) match {
      case Some(seen) =>
        val s = splitList(seen).toSet
        tombs.collect { case (tn, _) if !s.contains(tn) => tn }
      case None =>
        val cut = partCreateMs(p)
        tombs.collect { case (tn, ms) if ms >= cut => tn }
    }
  }

  /** Anti-join one part's scan against every tombstone applicable to
    * it (see [[applicableTombs]] / [[removeIds]]). */
  private def applyTombstones(spark: SparkSession, baseDir: String,
      p: Part, scan: DataFrame, tombs: Seq[(String, Long)]): DataFrame = {
    val applicable = applicableTombs(p, tombs)
    if (applicable.isEmpty) scan
    else {
      require(scan.columns.contains("id"),
        s"index at $baseDir carries tombstones but its rows have no " +
          "id column — takedown is only supported for id-carrying " +
          "index kinds (DedupIndex.removeDocs dispatches correctly)")
      scan.join(
        spark.read.parquet(applicable.map(n => s"$baseDir/$n"): _*),
        Seq("id"), "left_anti")
    }
  }

  /** Probe-scan telemetry: which tier ran and how many sidecar files
    * it opened out of the union's total. */
  final case class ProbeStats(tier: String, filesTotal: Int,
    filesOpened: Int)

  /** Tier/IO of the most recent [[scanForProbes]] PLAN in this JVM —
    * read by the probe specs (and by the retired span-regime bench,
    * SCALE.md "Retired experiment mains") so the files-opened claim
    * is recorded, not argued. Plan-time telemetry:
    * set when the scan is built, which is when file selection happens.
    */
  val lastProbeStats =
    new java.util.concurrent.atomic.AtomicReference[ProbeStats]()

  /** The under-cap point-read tier of [[scanForProbes]] with an
    * ALREADY-COLLECTED key set (r15, VERDICT r14 #3 "batched probe"):
    * probe paths that have just collected their bounded candidate
    * rows anyway (simhash/embedding member expansion) derive the next
    * level's keys DRIVER-SIDE instead of paying another
    * limit+collect scheduler job against a lineage that would
    * otherwise need a localCheckpoint barrier. Same zone-map file
    * selection, point-membership residual, tombstones and
    * cross-segment dedup as the DataFrame form. */
  def scanForPointKeys(parts: Seq[Part], keyArr: Array[Long],
      dedupCols: Seq[String] = Nil): DataFrame = {
    require(parts.nonEmpty, "no index parts")
    val filesTotal = parts.map(_.m.files.size).sum
    val scans = pointScans(parts, keyArr, filesTotal)
    finishScans(parts.head.ds.spark, parts, scans, dedupCols)
  }

  /** Zone-map point-read scan branches for a driver-held key set —
    * the shared body of [[scanForPointKeys]] and [[scanForProbes]]'
    * under-cap tier. */
  private def pointScans(parts: Seq[Part], keyArr: Array[Long],
      filesTotal: Int): Seq[DataFrame] = {
    val pts = keyArr.distinct.map(OrdLong(_)).toSeq
    val sel = parts.map(p => GraftFileIndex.covering(p.m.files, pts))
    lastProbeStats.set(
      ProbeStats("driver_points", filesTotal, sel.map(_.size).sum))
    // point-membership residual ON THE SCAN (r13): the caller's
    // equi-join drops non-probe keys anyway, but filtering them at
    // the parquet scan pushes down (row-group stats / dictionary)
    // and — the larger win — keeps the non-matching rows of every
    // covering file out of the join's shuffle. Bounded so a huge
    // literal list never bloats the plan; above the bound the
    // zone-map file selection alone is kept (old behavior).
    val residual = pts.size <= IsinResidualMax
    parts.zip(sel).map { case (p, files) =>
      val d = p.ds.filesDFOf(p.m, files)
      if (residual)
        d.where(col(p.m.orderedOn).isin(pts.map(_.v): _*))
      else d
    }
  }

  /** Tombstones + union + optional cross-segment dedup — the shared
    * tail of every probe scan. */
  private def finishScans(spark: SparkSession, parts: Seq[Part],
      scans: Seq[DataFrame], dedupCols: Seq[String]): DataFrame = {
    // takedowns: anti-join effective tombstones per part (older parts
    // lose removed ids; later re-adds stay visible — see removeIds)
    val u = withTombstones(spark, parts, scans)
      .reduce(_ unionByName _)
    if (parts.size > 1 && dedupCols.nonEmpty) u.dropDuplicates(dedupCols)
    else u
  }

  /** The probe-cardinality dispatch over the union (the segmented form
    * of the old single-dataset scanForProbes): collect up to
    * `maxDriverKeys + 1` distinct probe keys in ONE job; under the
    * cap, zone-map-route the SAME key set through every part
    * (driver-planned multi-point reads). OVER the cap (r13, VERDICT
    * r12 #3): a mid tier first — the probe keys are routed to sidecar
    * files DISTRIBUTIVELY (each part's zone map travels to executors
    * as a broadcast boundary table; a binary search per key finds its
    * covering files; the distinct hit set — bounded by the union's
    * FILE count, never the key count — comes back to the driver), and
    * only the hit files are scanned into the caller's equi-join. A
    * probe set that genuinely covers every file degrades to exactly
    * the old full-union scan, having paid one extra pass over the
    * keys; a clustered or partial probe set opens a fraction of the
    * index. Non-long ordered keys (no index in the family uses any)
    * fall back to the full union scan.
    * `dedupCols`, when non-empty and more than one part is live,
    * dedups rows that an (out-of-contract) re-add duplicated across
    * segments — presence probes keep their one-row-per-key contract;
    * the arbitrary survivor mirrors the old upsert's keep-last.
    */
  def scanForProbes(parts: Seq[Part], probeKeys: DataFrame,
      maxDriverKeys: Int, dedupCols: Seq[String] = Nil): DataFrame = {
    require(parts.nonEmpty, "no index parts")
    val filesTotal = parts.map(_.m.files.size).sum
    // null keys (e.g. md5 of a null text) can never match an index row
    val keysDf = probeKeys.na.drop().distinct()
    val keys = keysDf.limit(maxDriverKeys + 1).collect()
    val scans =
      if (keys.length <= maxDriverKeys)
        pointScans(parts, keys.map(_.getLong(0)), filesTotal)
      else {
        // Over the cap, first decide WHETHER the pruning tier can pay:
        // its hits pass evaluates the full probe-key lineage (often a
        // complete re-shingle of the batch — work the old full-union
        // path never did, since limit-collect short-circuits), and for
        // UNIFORM-hash keys over production file counts it opens every
        // file anyway (measured: p_segment_dedup_inc at 100× paid
        // 1.75× for 100/100 files opened, SCALE.md r13i). The gate
        // samples the KEYSPACE, not the scheduler (VERDICT r13): a
        // hash-strided collect — the cap decision's limit() prefix
        // above reads whatever partitions answered first, and a
        // key-clustered early partition would misread a uniform set
        // as prunable. The strided sample's size also estimates the
        // full key count; [[estimateCoverage]] extrapolates the FULL
        // set's file coverage from it. An empty strided sample (a set
        // barely over the cap) falls back to the prefix keys with the
        // conservative (small) full-count estimate.
        val boundsOpt = partBounds(parts)
        val keyCol = keysDf.columns.head
        val stridedKeys = keysDf.where(
            pmod(xxhash64(col(keyCol)), lit(SampleStride.toLong)) === 0L)
          .limit(maxDriverKeys + 1).collect().map(_.getLong(0))
        val k = stridedKeys.length
        // minimum sample the per-file extrapolation trusts: ~4 keys
        // per file sees every hittable file of a spread keyspace
        val minSample = math.max(128, 4 * filesTotal)
        val (sample, fullK, exact) =
          if (k >= minSample) (stridedKeys, SampleStride.toLong * k, false)
          else if (k < maxDriverKeys + 1) {
            // the strided limit was NOT reached → the collect already
            // exhausted the lineage and the full key count is
            // ~stride×k ≤ stride×minSample: one bounded top-by-hash
            // pass (an unbiased uniform subsample — top-k of a hash
            // is position-independent) is cheap, and usually
            // EXHAUSTIVE, making the coverage read exact
            val more = keysDf.orderBy(xxhash64(col(keyCol)))
              .limit(minSample + 1).collect().map(_.getLong(0))
            if (more.length <= minSample)
              (more, more.length.toLong, true)
            else (more, math.max(SampleStride.toLong * k,
              minSample.toLong + 1), false)
          } else if (k > 0)
            // tiny-cap corner: the limit bound the strided collect, so
            // the full count is unknown — extrapolate from what it got
            (stridedKeys, SampleStride.toLong * k, false)
          else (keys.map(_.getLong(0)), keys.length.toLong, false)
        val covEst = boundsOpt.map(
          estimateCoverage(_, sample, fullK, filesTotal, exact))
        if (boundsOpt.isEmpty ||
            covEst.exists(_ >= MidTierSkipAtFraction)) {
          lastProbeStats.set(
            ProbeStats("full_union", filesTotal, filesTotal))
          System.err.println(
            s"[graft] index probe of ${parts.head.ds.dir}: distinct " +
              "probe keys exceed the driver cap and the full set's " +
              "estimated file coverage is " +
              f"${covEst.getOrElse(1.0) * 100}%.0f%%" +
              s" of $filesTotal files — full-union equi-join " +
              "(cost ∝ index, not increment)")
          parts.map(p => p.ds.dfOf(p.m))
        } else {
          // the hits pass evaluates the key lineage once more: persist
          // so the (often expensive) lineage is computed once; the hit
          // set is collected eagerly inside, so the cache drops here
          val cached = keysDf.persist()
          try midTierScans(parts, cached, boundsOpt.get, filesTotal)
          finally cached.unpersist(): Unit
        }
      }
    finishScans(probeKeys.sparkSession, parts, scans, dedupCols)
  }

  /** Per-part sorted boundary arrays (files are min-sorted in the
    * sidecar; maxes are monotone because ordered files overlap only at
    * equal boundary keys). None when any part's keys are not long
    * (no index in the family — the full-union fallback handles it). */
  private def partBounds(parts: Seq[Part])
      : Option[Array[(Array[Long], Array[Long])]] = {
    val longKeyed = parts.forall(_.m.files.forall(f =>
      f.min.isInstanceOf[OrdLong] && f.max.isInstanceOf[OrdLong]))
    if (!longKeyed || parts.forall(_.m.files.isEmpty)) None
    else Some(parts.map { p =>
      (p.m.files.map(_.min.asInstanceOf[OrdLong].v).toArray,
        p.m.files.map(_.max.asInstanceOf[OrdLong].v).toArray)
    }.toArray)
  }

  // key → covering (part << 32 | file) ids: ONE kernel
  // ([[graft.functions.CoveringFiles.covering]]) shared by the
  // driver-side sample routing here and, codegen-inlined, the
  // distributed hits pass of [[midTierScans]].

  /** Estimated file-coverage fraction of the FULL probe-key set, from
    * a keyspace-spread sample of it. Per-file extrapolation: a file
    * hit by `m` of `k` sample keys is hit by a random key with
    * probability ~m/k, so the full set of `fullK` keys misses it with
    * ~(1−m/k)^fullK. Files the sample never hit contribute 0 — an
    * UNDERestimate when the sample is small relative to the file
    * count, which errs toward the tier (bounded worst case: the old
    * full-union cost plus one key pass). `exact = true` means the
    * sample IS the full key set and the coverage is counted, not
    * modeled. */
  private[pipeline] def estimateCoverage(
      bounds: Array[(Array[Long], Array[Long])], sample: Array[Long],
      fullK: Long, filesTotal: Int, exact: Boolean): Double = {
    if (sample.isEmpty || filesTotal <= 0) return 1.0
    val mins = bounds.map(_._1)
    val maxs = bounds.map(_._2)
    val hits = scala.collection.mutable.HashMap.empty[Long, Int]
    sample.foreach { key =>
      graft.functions.CoveringFiles.covering(mins, maxs, key)
        .foreach(f => hits.update(f, hits.getOrElse(f, 0) + 1))
    }
    if (hits.isEmpty) return 0.0 // keys hit no file: the tier opens 0
    val cov =
      if (exact) hits.size.toDouble
      else {
        val k = sample.length.toDouble
        hits.valuesIterator
          .map(m => 1.0 - math.pow(1.0 - m / k, fullK.toDouble)).sum
      }
    math.min(1.0, cov / filesTotal.toDouble)
  }

  /** The over-cap mid tier (see [[scanForProbes]]): distributive
    * zone-map routing of probe keys to files, then a scan of only the
    * hit files. Only called when the driver-side key SAMPLE showed the
    * set is clustered enough to prune. */
  private def midTierScans(parts: Seq[Part], probeKeys: DataFrame,
      bounds: Array[(Array[Long], Array[Long])], filesTotal: Int)
      : Seq[DataFrame] = {
    val keyCol = probeKeys.columns.head
    // ONE exchange over the probe keys (the distinct); the collected
    // result is bounded by the union's file count. The routing is a
    // codegen'd expression over long[][] reference objects
    // ([[graft.functions.CoveringFiles]]) — the per-key binary search
    // stays inside whole-stage codegen with a primitive-array output,
    // where the UDF it replaced paid boxed conversion per probe key.
    val hit = probeKeys.na.drop()
      .select(explode(graft.functions.CoveringFiles.coveringFiles(
        col(keyCol), bounds.map(_._1), bounds.map(_._2))).as("pf"))
      .distinct().collect().map(_.getLong(0)).toSet
    lastProbeStats.set(ProbeStats("zone_pruned", filesTotal, hit.size))
    System.err.println(
      s"[graft] index probe of ${parts.head.ds.dir}: distinct probe " +
        s"keys exceed the driver cap — zone-map file-pruning tier " +
        s"opened ${hit.size}/$filesTotal files into the equi-join")
    parts.zipWithIndex.map { case (p, pi) =>
      p.ds.filesDFOf(p.m, p.m.files.zipWithIndex.collect {
        case (f, fi) if hit.contains((pi.toLong << 32) | fi.toLong) => f
      })
    }
  }

  /** True when `tag` was already applied: stamped on a live segment,
    * on the base itself (a tagged first build), or folded into the
    * base's tag history by a compaction. */
  def hasTag(spark: SparkSession, dir: String, tag: String): Boolean =
    hasTagIn(liveParts(spark, dir), tag)

  /** [[hasTag]] against an already-CAPTURED snapshot — the
    * generation-pinned form (VERDICT r12 #8): a long multi-probe
    * session captures [[liveParts]] ONCE and passes the same capture
    * to every probe and tag check, reading one index version
    * throughout regardless of concurrent adds or compactions (the
    * store's `dfAsOf` discipline lifted to the union; a capture's
    * files stay readable for `retireGraceMs` past replacement, which
    * bounds how long a pin should be held). */
  def hasTagIn(parts: Seq[Part], tag: String): Boolean =
    parts.headOption.exists { base =>
      base.m.kv.get(StampKey).contains(tag) ||
        base.m.kv.get(TagsKey).exists(splitList(_).contains(tag)) ||
        parts.tail.exists(_.m.kv.get(StampKey).contains(tag))
    }

  /** Land an increment as a fresh delta segment — cost ∝ increment
    * (sort + write of the batch alone; no overlap planning, no lock).
    * The segment's kv records the tombstone ledger observed at
    * creation ([[TombSeenKey]], one lock-free base-kv read): a
    * tombstone registered before this read is causally BEFORE the
    * segment and never applies to it; one registered after (even
    * mid-write — conservative) applies. */
  def writeSegment(spark: SparkSession, dir: String, rows: DataFrame,
      opts: WriteOpts): Unit = {
    val base = new OrderedDataset(spark, dir)
    val seen =
      if (base.exists)
        base.kv.get(TombstoneKey).map(splitList).getOrElse(Nil)
      else Nil
    new OrderedDataset(spark, newSegmentDir(dir)).write(rows,
      opts.copy(kv = opts.kv + (TombSeenKey -> seen.mkString(Sep)))): Unit
  }

  /** Fold every live segment into the base — ONE ordinary ordered
    * upsert whose sidecar swap also commits the fold declaration
    * ([[FoldedKey]]) and the folded replay tags ([[TagsKey]]), so the
    * merge is atomic with its bookkeeping.
    *
    *  - presence indexes (`sumCols` empty): the segment union upserts
    *    into the base with `opts.duplicatesOn` — the base is read once
    *    (the upsert's own overlap pass);
    *  - count indexes (`sumCols` = the additive columns): base ∪
    *    segments is grouped on every other column and summed, and the
    *    totals REPLACE the base wholesale
    *    ([[OrderedDataset.replaceAll]], r13 — VERDICT r12 #6): the
    *    grouped union is persisted, so the base is read exactly ONCE;
    *    the r12 fold routed the totals through the upsert, whose
    *    overlap pass read the base a second time. The replace runs
    *    under the same sidecar-swap invariants (fold declaration in
    *    the same commit, old files retired under the grace window).
    *
    * Single-compactor discipline: compaction serializes on the base
    * write lock; a segment created DURING a compaction is simply not
    * in its captured list and stays live. Returns #segments folded.
    * Folded dirs stay on disk (readers holding pre-fold plans) until
    * [[vacuum]] reaps them past the grace window — compact() vacuums
    * opportunistically first.
    */
  def compact(spark: SparkSession, dir: String, opts: WriteOpts,
      sumCols: Seq[String] = Nil): Int = {
    vacuum(spark, dir): Unit
    val parts = liveParts(spark, dir)
    require(parts.nonEmpty, s"no graft index at $dir")
    val base = parts.head
    val segs = parts.tail
    // a fold is due when segments are live OR takedowns await purging
    val tombs = effectiveTombstones(base.m.kv)
    if (segs.isEmpty && tombs.isEmpty) return 0
    val segNames = segs.map(_.ds.dir.split('/').last)
    // fold bookkeeping: names already folded but not yet vacuumed stay
    // listed (readers may still exclude them); folded tags append to
    // the bounded history, newest last
    val fsys = fs(spark, dir)
    val stillFolded = foldedNames(base.m.kv)
      .filter(n => fsys.exists(new HPath(s"$dir/$n")))
    val tags = (base.m.kv.get(TagsKey).map(splitList).getOrElse(Nil) ++
      base.m.kv.get(StampKey).toSeq ++
      segs.flatMap(_.m.kv.get(StampKey))).distinct.takeRight(MaxFoldedTags)
    // durable fold timestamps (ADVICE r12): entries for vacuumed dirs
    // are pruned with the same still-on-disk filter as FoldedKey; the
    // new folds are stamped with THIS commit's time
    val foldMs = System.currentTimeMillis()
    val tombNames = tombs.map(_._1)
    // an applied entry must outlive its LISTED twin: pruning it while
    // the TombstoneKey entry remains would resurrect the name as
    // "effective" with no backing files (vacuum prunes both together)
    val listedTombs = base.m.kv.get(TombstoneKey)
      .map(splitList(_).toSet).getOrElse(Set.empty)
    val stillApplied = base.m.kv.get(TombAppliedKey)
      .map(splitList).getOrElse(Nil)
      .filter(n => fsys.exists(new HPath(s"$dir/$n")) ||
        listedTombs.contains(n))
    val foldedAt = foldedAtMap(base.m.kv).filter {
      case (n, _) => stillFolded.contains(n) ||
        stillApplied.contains(n) } ++
      (segNames ++ tombNames).map(_ -> foldMs)
    val kvAdd = Map(
      FoldedKey -> (stillFolded.toSeq.sorted ++ segNames).mkString(Sep),
      FoldedAtKey -> foldedAt.toSeq.sortBy(_._1)
        .map { case (n, t) => s"$n=$t" }.mkString(Sep)) ++
      // the applied-tombstone ledger grows by exactly what THIS fold
      // physically purged; TombstoneKey itself is never written here
      // (removes append to it under the kv lock — a remove racing
      // this fold stays effective as listed − applied)
      (if ((stillApplied ++ tombNames).nonEmpty)
        Map(TombAppliedKey ->
          (stillApplied ++ tombNames).distinct.mkString(Sep))
       else Map.empty[String, String]) ++
      (if (tags.nonEmpty) Map(TagsKey -> tags.mkString(Sep))
       else Map.empty[String, String])
    val foldOpts = opts.copy(
      kv = opts.kv ++ kvAdd,
      // the base's own stamp (a tagged FIRST build) has moved into the
      // tag history above
      kvRemove = (opts.kvRemove :+ StampKey).distinct)
    if (sumCols.nonEmpty) {
      require(tombs.isEmpty,
        s"index at $dir is an aggregate-count kind but carries id " +
          "tombstones — takedown there is decrement segments " +
          "(DedupIndex.removeCountedDocs), not removeIds; remove the " +
          "tomb- dirs and kv entries to proceed")
      val all = (base.ds.dfOf(base.m) +: segs.map(p => p.ds.dfOf(p.m)))
        .reduce(_ unionByName _)
      val keyCols = all.columns.filterNot(sumCols.contains).toSeq
      val aggs = sumCols.map(c => sum(col(c)).cast("long").as(c))
      val totals =
        all.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
          // rows a decrement segment cancelled to zero (or below —
          // out-of-contract double removes) are physically dropped:
          // the fold IS the purge for count-kind takedowns
          .filter(sumCols.map(c => col(c) > 0L).reduce(_ or _))
          // column ORDER: parquet reads by name, but keep the stored
          // layout for readability of the rewritten files
          .select(base.ds.dfOf(base.m).columns.map(col).toSeq: _*)
      requireNonEmptyFold(dir, totals)
      base.ds.replaceAll(totals, foldOpts): Unit
    } else if (tombs.isEmpty) {
      // pure segment fold: ordered upsert of the segment union (the
      // base is read once, by the upsert's own overlap pass)
      val segUnion = segs.map(p => p.ds.dfOf(p.m))
        .reduce(_ unionByName _)
      base.ds.write(segUnion, foldOpts): Unit
    } else {
      // PURGE fold: takedowns are physically applied, which rewrites
      // the whole base — union of base + segments, tombstones
      // anti-joined per part, cross-part duplicates collapsed exactly
      // as the probe contract does, then one full-replace commit
      val scans = parts.map(p => applyTombstones(spark, dir, p,
        p.ds.dfOf(p.m), tombs))
      val merged0 = scans.reduce(_ unionByName _)
      // mirror the upsert's dedup contract: Some(cols) keep-one per
      // key, Some(Nil) = dedup on ALL columns, None = no dedup
      val merged = opts.duplicatesOn match {
        case Some(Nil)  => merged0.dropDuplicates()
        case Some(cols) => merged0.dropDuplicates(cols)
        case None       => merged0
      }
      requireNonEmptyFold(dir, merged)
      base.ds.replaceAll(merged, foldOpts): Unit
    }
    // ALSO stamp the fold time on each folded dir's mtime, best-effort
    // (debuggability: `ls -l` agrees with the kv record; the kv entry
    // above is what vacuum actually measures from)
    (segs.map(_.ds.dir) ++ tombNames.map(n => s"$dir/$n")).foreach { p =>
      try fsys.setTimes(new HPath(p), foldMs, -1)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    segs.size
  }

  /** A takedown that covers EVERY row would fold to an empty base,
    * which [[OrderedDataset.replaceAll]] rejects with a message that
    * misdiagnoses the cause (ADVICE r13) — name the takedown-specific
    * remedy instead. The one extra action is a limit-1 probe, cheap
    * next to the fold itself. */
  private def requireNonEmptyFold(dir: String, merged: DataFrame): Unit =
    require(!merged.isEmpty,
      s"compacting $dir would fold to an EMPTY index: takedowns cover " +
        "every remaining row. An empty ordered dataset is not " +
        "representable — delete the index (Store.delete / rm) and " +
        "rebuild when content returns, or add content before " +
        "compacting")

  /** Reap folded segment dirs older than the reader grace window
    * (measured from the DURABLE fold timestamp in the base kv, falling
    * back to the dir mtime for pre-r13 folds), plus uncommitted
    * (crashed-add) segment dirs past the same age — UNLESS the dir
    * holds a write lock fresher than [[OrderedDataset.LockStaleMs]]:
    * an in-flight add stages parquet inside a `_tmp_write-*` subdir
    * (the segment dir's own mtime never refreshes during a long
    * prepare), but its lock heartbeat does refresh the lock file, so
    * lock freshness is exactly the liveness signal (ADVICE r12 — the
    * same staleness discipline the store's own cleanOrphans uses).
    * Returns #dirs removed. */
  def vacuum(spark: SparkSession, dir: String,
      olderThanMs: Long = OrderedDataset.retireGraceMs): Int = {
    val base = new OrderedDataset(spark, dir)
    if (!base.exists) return 0
    val kv = base.kv
    val folded = foldedNames(kv)
    val foldedAt = foldedAtMap(kv)
    val tombListed = kv.get(TombstoneKey)
      .map(splitList(_).toSet).getOrElse(Set.empty)
    val tombApplied = kv.get(TombAppliedKey)
      .map(splitList(_).toSet).getOrElse(Set.empty)
    val fsys = fs(spark, dir)
    val d = new HPath(dir)
    if (!fsys.exists(d)) return 0
    val now = System.currentTimeMillis()
    val conf = spark.sparkContext.hadoopConfiguration
    def lockFresh(p: HPath): Boolean =
      try now - fsys.getFileStatus(
        new HPath(p, OrderedDataset.LockName)).getModificationTime <
        OrderedDataset.LockStaleMs
      catch { case _: java.io.FileNotFoundException => false }
    fsys.listStatus(d).count { st =>
      val n = st.getPath.getName
      val reapable = st.isDirectory && {
        if (n.startsWith(DeltaPrefix)) {
          if (folded.contains(n))
            now - foldedAt.getOrElse(n, st.getModificationTime) >
              olderThanMs
          else
            !Sidecar.exists(conf, st.getPath.toString) &&
              now - st.getModificationTime > olderThanMs &&
              !lockFresh(st.getPath)
        } else if (n.startsWith(TombstonePrefix)) {
          // applied: purged from the base, grace from the apply time;
          // unREGISTERED: either a crashed remove (ids written, kv
          // append never landed — garbage) or an IN-FLIGHT remove
          // whose registration is queued up to [[RemoveKvWaitMs]]
          // behind a fold's lock hold (ADVICE r13: reaping THAT dir
          // loses the takedown — the registration then lands naming a
          // missing dir and every probe throws). The two are
          // indistinguishable from here, so the reap age is gated on
          // the registration budget: past RemoveKvWaitMs the remove
          // has either registered or thrown to its caller.
          // Listed-but-unapplied tombstones are LIVE law — never
          // reaped.
          if (tombApplied.contains(n))
            now - foldedAt.getOrElse(n, st.getModificationTime) >
              olderThanMs
          else
            !tombListed.contains(n) &&
              now - st.getModificationTime >
                math.max(olderThanMs, RemoveKvWaitMs)
        } else false
      }
      if (reapable) { fsys.delete(st.getPath, true): Unit; true }
      else false
    } match {
      case 0 => 0
      case reaped =>
        // prune tombstone bookkeeping for reaped dirs FROM BOTH keys
        // in one locked RMW (fresh kv — concurrent removes compose):
        // dropping only the applied entry would make the still-listed
        // name "effective" again with no backing files
        val gone = (tombListed ++ tombApplied)
          .filter(n => !fsys.exists(new HPath(s"$dir/$n")))
        if (gone.nonEmpty) base.transformKv { kv =>
          def prune(k: String) = kv.get(k)
            .map(v => k -> splitList(v).filterNot(gone).mkString(Sep))
          (kv ++ prune(TombstoneKey) ++ prune(TombAppliedKey))
            .filter { case (k, v) =>
              v.nonEmpty || (k != TombstoneKey && k != TombAppliedKey) }
        }
        reaped
    }
  }
}
