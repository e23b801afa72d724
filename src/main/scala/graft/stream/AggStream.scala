package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import graft.agg.{AggFn, AggSpec, SegmentAgg}
import graft.store._

/** Per-key streamed-aggregation config (ref aggstream.py:115-271): an
  * optional seed filter (the per-filter-id fan-out F2), a tumbling bin
  * spec, the agg plan, and an optional post hook applied at read time.
  */
final case class StreamKeyCfg(
    filter: Option[Column],
    binFreq: String,
    closed: String = "left",
    label: String = "left",
    aggs: Seq[AggSpec],
    /** Read-time post hook over BOTH result frames (ref
      * `post(buffer, bin_res, snap_res)`, aggstream.py:703-719): the
      * first argument is the finalized per-bin frame, the second the
      * running snapshot frame when `snapFreq` is set (None otherwise).
      * Returns the frame `results` emits. Per-bin and snapshot frames
      * are also individually readable via `binResults`/`snapResults` —
      * the analog of the reference's two-key recording (AggResType
      * BOTH). */
    post: Option[(DataFrame, Option[DataFrame]) => DataFrame] = None,
    /** Optional snapshot grid finer than the bin (ref T6 snap_by): the
      * result dataset then stores one mergeable partial per (bin, snap)
      * cell and `results` emits the running within-bin value at each
      * non-empty snapshot point. Composes with `xRows` (ref segmentby
      * snap_by × by_x_rows, segmentby.py:712-1028). */
    snapFreq: Option[String] = None,
    /** Count-based bins of exactly N rows (ref by_x_rows as a stream
      * bin_by, segmentby.py:371-520): bins continue across chunks via a
      * persisted processed-row count; bin label = first ordered value.
      * binFreq is ignored. */
    xRows: Option[Int] = None,
    /** When true, `results` and the post hook receive the FULL-grid
      * snapshot frame (`snapResultsWithSpine` — empty snapshot points
      * forwarded, ref preserve_res within a bin) instead of the sparse
      * observed-cell frame. Requires `snapFreq`. */
    spineSnaps: Boolean = false) {
  require(!spineSnaps || snapFreq.isDefined,
    "spineSnaps requires snapFreq (the snapshot grid to fill)")
}

/** Restartable, out-of-core streamed segment aggregation — the
  * batch-incremental port of the reference's AggStream
  * (ref aggstream/aggstream.py; SURVEY §2.12, §3.3).
  *
  * Design: instead of carrying the numba kernel's `chunk_res` array
  * (ref jcumsegagg.py:230-417), each result dataset stores *mergeable
  * partial aggregates* per bin — for first/last/min/max/sum the stored
  * row IS the restart state, extended with the bin's tiebreak bounds
  * (`__tb_min`/`__tb_max`) so first/last merge correctly across chunks.
  * Each seed chunk is aggregated to per-bin partials and written with
  * a combining upsert on the bin key ([[OrderedDataset.writeCombining]]):
  * the stored partials of the still-open bins are combined with the
  * chunk's inside the upsert's single read of the files the chunk
  * overlaps (ref A8 restart-aware stitching, cumsegagg.py:398-435). The
  * restart index persists in the sidecar kv atomically with the data
  * write (ref aggstream.py:799-806).
  *
  * Scale notes: every step is a distributed DataFrame op — partial agg
  * shuffles once by bin; the combine reads only the zone-map-selected
  * files the chunk's bins overlap, once, in the same job that rewrites
  * them; nothing is collected to the driver but the chunk's min/max
  * stats and the write's batch stats (plus a row count per count-binned
  * key, whose processed-row kv commits with the data).
  */
final class AggStream[K](
    val store: Store[K],
    val orderedOn: String,
    val tieCol: String,
    val keys: Map[K, StreamKeyCfg],
    val target: RowGroupTarget = NRows(6345000L)) {

  import AggStream._

  /** Columns holding each bin's tiebreak bounds in the stored partials. */
  private def tbMin = "__tb_min"
  private def tbMax = "__tb_max"

  private def partialExprs(cfg: StreamKeyCfg): Seq[Column] =
    SegmentAgg.partialAggExprs(cfg.aggs, col(tieCol)) ++
      Seq(min(col(tieCol)).as(tbMin), max(col(tieCol)).as(tbMax))

  private def combineExprs(cfg: StreamKeyCfg): Seq[Column] =
    cfg.aggs.map { s =>
      val c = col(s.out)
      (s.fn match {
        case AggFn.First => min_by(c, col(tbMin))
        case AggFn.Last  => max_by(c, col(tbMax))
        case AggFn.Min   => min(c)
        case AggFn.Max   => max(c)
        case AggFn.Sum   => sum(c)
      }).as(s.out)
    } ++ Seq(min(tbMin).as(tbMin), max(tbMax).as(tbMax))

  private def readState(k: K): Option[Restart] = {
    val ds = store.get(k)
    if (!ds.exists) None
    else ds.kv.get(StateKey).map(Restart.fromJson)
  }

  /** Process one seed chunk for one key: partial-agg, then a combining
    * upsert on the bin key that folds the partials into the stored
    * open-bin partials inside the write's single overlap read.
    */
  private def processKey(k: K, cfg: StreamKeyCfg, chunk: DataFrame,
      restart: Restart, extraKv: Map[String, String]): Unit = {
    val data = cfg.filter.map(chunk.filter).getOrElse(chunk)
    cfg.xRows match {
      case Some(n) => processKeyXRows(k, cfg, data, n, restart, extraKv)
      case None    => processKeyTime(k, cfg, data, restart, extraKv)
    }
  }

  /** Count-based bins: global row numbering continues from the persisted
    * processed-row count; each bin's partial merges like time bins, with
    * the label (first ordered value) merged via min. With `snapFreq`
    * set, one cell per (bin, snap) is stored instead (snap_by composed
    * with by_x_rows, ref segmentby.py:712-1028).
    */
  private def processKeyXRows(k: K, cfg: StreamKeyCfg, data: DataFrame,
      n: Int, restart: Restart, extraKv: Map[String, String]): Unit = {
    val ds = store.get(k)
    val rowsSeen =
      if (ds.exists) ds.kv.get(RowsKey).map(_.toLong).getOrElse(0L) else 0L
    val binned = SegmentAgg.xRowsBins(data, orderedOn, n, col(tieCol),
      carryIn = rowsSeen)
    val groupCols = col("bin_id").as(BinCol) +: cfg.snapFreq.toSeq.map(f =>
      SegmentAgg.timeBin(col(orderedOn), f, cfg.closed, cfg.label)
        .as(SnapCol))
    val exprs = partialExprs(cfg) ++ Seq(
      min(col(orderedOn)).as(LabelCol), sum(lit(1L)).as(NCol))
    val partial = binned.groupBy(groupCols: _*)
      .agg(exprs.head, exprs.tail: _*)
    // one action: the rows kv commits atomically with the data
    val chunkRows = data.count()
    ds.writeCombining(partial, WriteOpts(
      orderedOn = BinCol, target = target,
      duplicatesOn = Some(keyCols(cfg)),
      kv = extraKv ++ Map(StateKey -> restart.toJson,
        RowsKey -> (rowsSeen + chunkRows).toString)),
      combineExprs(cfg) ++ Seq(min(LabelCol).as(LabelCol),
        sum(NCol).as(NCol)))
  }

  private def processKeyTime(k: K, cfg: StreamKeyCfg, data: DataFrame,
      restart: Restart, extraKv: Map[String, String]): Unit = {
    val bin = SegmentAgg.timeBin(col(orderedOn), cfg.binFreq, cfg.closed,
      cfg.label)
    val groupCols = bin.as(BinCol) +: cfg.snapFreq.toSeq.map(f =>
      SegmentAgg.timeBin(col(orderedOn), f, cfg.closed, cfg.label)
        .as(SnapCol))
    val partial = data.groupBy(groupCols: _*)
      .agg(partialExprs(cfg).head, partialExprs(cfg).tail: _*)
    store.get(k).writeCombining(partial, WriteOpts(
      orderedOn = BinCol, target = target,
      duplicatesOn = Some(keyCols(cfg)),
      kv = extraKv ++ Map(StateKey -> restart.toJson)),
      combineExprs(cfg))
  }

  private def keyCols(cfg: StreamKeyCfg): Seq[String] =
    BinCol +: cfg.snapFreq.toSeq.map(_ => SnapCol)

  /** Run the stream over an iterator of ordered seed chunks
    * (ref aggstream.py:1399-1474: seed as DataFrame or iterable).
    * `discardLast` withholds the final ordered_on-equal row block as
    * possibly-incomplete, re-presenting it with the next chunk
    * (ref aggstream.py:566-569; T2).
    */
  def agg(seed: Iterator[DataFrame], discardLast: Boolean = true,
      pre: Option[DataFrame => DataFrame] = None,
      statefulPre: Option[AggStream.StatefulPre] = None): Unit = {
    // Per-key restart states. Normally all keys agree (every successful
    // chunk advances them together), but a partially-failed fan-out (one
    // key's write dies mid-chunk) leaves them divergent. Rather than
    // wedging on strict equality with no recovery path, HEAL: trim the
    // seed to the laggiest key's restart, and let each key additionally
    // trim to its OWN restart (skipping rows it already folded — a
    // replay would otherwise double-count sums into stored partials).
    val restartByKey = scala.collection.mutable.Map[K, Option[Restart]](
      keys.keys.map(k => k -> readState(k)).toSeq: _*)
    def laggiest(rs: Iterable[Restart]): Option[Restart] =
      rs.reduceOption { (a, b) =>
        if (a.v < b.v || (a.v == b.v && !a.exclusive)) a else b
      }
    // a key with NO state (fresh dataset) folds whatever the caller
    // seeds; existing keys skip their already-folded prefix themselves
    var restart: Option[Restart] = laggiest(restartByKey.values.flatten)
    // pre-hook buffer (ref pre_buffer, aggstream.py:799-806): restored
    // from the result datasets' kv, persisted atomically with each data
    // write, so a restarted stream's pre hook resumes where it left off.
    // After a partial failure the laggiest key's pre state is the one to
    // resume from (its unfolded rows replay through the pre hook; keys
    // already past them trim those rows away).
    var preState: Option[String] = {
      val withState = keys.keys.toSeq.flatMap { k =>
        val ds = store.get(k)
        val p = if (ds.exists) ds.kv.get(PreKey) else None
        p.map(s => (restartByKey(k), s))
      }
      val lag = laggiest(withState.flatMap(_._1))
      val candidates = withState.collect {
        case (r, s) if r == lag || lag.isEmpty => s
      }
      candidates.distinct match {
        case Nil => None
        case Seq(one) => Some(one)
        case several => throw new IllegalStateException(
          s"keys at the same restart disagree on pre state: $several")
      }
    }
    var remainder: Option[DataFrame] = None
    var cachedPrev: Option[DataFrame] = None // backing cache of `remainder`

    def trimTo(df: DataFrame, r: Option[Restart]): DataFrame = r match {
      case None => df
      case Some(r) =>
        val c = col(orderedOn)
        val dt = df.schema(orderedOn).dataType
        df.filter(if (r.exclusive) c > lit(r.v.toLiteralFor(dt))
                  else c >= lit(r.v.toLiteralFor(dt)))
    }
    def trim(df: DataFrame): DataFrame = trimTo(df, restart)

    // thread-parallel per key (ref joblib fan-out, aggstream.py:83,
    // 1309-1317): each key's partial-agg + combining upsert touches
    // only that key's dataset, and Spark's scheduler interleaves
    // concurrently submitted jobs — serial submission would leave the
    // cluster idle during each key's driver-side planning. One pooled
    // thread per key, each running with the caller's Spark local
    // properties (job group, description, scheduler pool) as of
    // submission, so cancelling the caller's job group cancels the
    // chunk's jobs.
    def fanOut(run: (K, StreamKeyCfg) => Unit): Unit =
      if (keys.size < 2) keys.foreach { case (k, cfg) => run(k, cfg) }
      else {
        val session =
          store.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val futures = keys.toSeq.map { case (k, cfg) =>
          SQLExecution.withThreadLocalCaptured(session, KeyThreads)(
            run(k, cfg))
        }
        // every key finishes before a failure is rethrown: a caller
        // restarting at once must not read a sibling's restart state
        // while that sibling is still committing the chunk
        futures.flatMap(f => scala.util.Try(f.join()).failed.toOption)
          .headOption.foreach {
            case e: java.util.concurrent.CompletionException
                if e.getCause != null => throw e.getCause
            case e => throw e
          }
      }

    // `d0` must already have the pre hook applied.
    def runChunk(d0: DataFrame, isFinal: Boolean): Unit = {
      val data = trim(d0).persist()
      var keepCached = false
      try {
        val st =
          data.agg(min(orderedOn), max(orderedOn), count(lit(1))).head()
        if (st.getLong(2) > 0) {
          val mn = OrdVal.fromAny(st.get(0))
          val mx = OrdVal.fromAny(st.get(1))
          val dt = data.schema(orderedOn).dataType
          // withholding the max-valued block leaves rows iff min < max
          val (process, newRemainder, newRestart, hasRows) =
            if (discardLast && !isFinal) {
              (data.filter(col(orderedOn) < lit(mx.toLiteralFor(dt))),
               Some(data.filter(col(orderedOn) === lit(mx.toLiteralFor(dt)))),
               Restart(mx, exclusive = false), mn < mx)
            } else (data, None, Restart(mx, exclusive = true), true)
          if (hasRows) {
            val extraKv = preState.map(PreKey -> _).toMap
            // per-key trim: a key AHEAD of the global restart (divergence
            // after a partially-failed fan-out) skips rows it already
            // folded; for aligned keys this is the global trim repeated —
            // a no-op predicate
            fanOut((k, cfg) => processKey(k, cfg,
              trimTo(process, restartByKey(k)), newRestart, extraKv))
            restart = Some(newRestart)
            keys.keys.foreach(k => restartByKey(k) = Some(newRestart))
          }
          // release the cache backing the previous remainder, now consumed
          cachedPrev.foreach(_.unpersist())
          remainder = newRemainder
          keepCached = newRemainder.isDefined
          cachedPrev = if (keepCached) Some(data) else None
        }
      } finally if (!keepCached) data.unpersist(): Unit
    }

    try {
      seed.foreach { chunk =>
        // pre hook applies to fresh seed rows only, never re-applied to
        // the withheld remainder (ref `pre` contract, aggstream.py:539-546)
        val preApplied = pre.map(_(chunk)).getOrElse(chunk)
        val fresh = statefulPre match {
          case Some(sp) =>
            val (df, st) = sp(preApplied, preState)
            preState = st
            df
          case None => preApplied
        }
        val d = remainder match {
          case Some(r) =>
            r.unionByName(fresh.select(r.columns.toSeq.map(col): _*))
          case None => fresh
        }
        runChunk(d, isFinal = false)
      }
      // final flush of the withheld tail (ref final_write,
      // aggstream.py:799-837)
      remainder.foreach { r => runChunk(r, isFinal = true) }
    } finally cachedPrev.foreach(_.unpersist())
  }

  private def aggCasts(cfg: StreamKeyCfg): Seq[Column] =
    cfg.aggs.map { s =>
      if (s.fn == AggFn.Sum) col(s.out).cast("double").as(s.out)
      else col(s.out)
    }

  /** Finalized per-bin frame, whether or not snapshots are configured —
    * the analog of the reference's `bin_res` (and of recording bins
    * under the first key of a key tuple, aggstream.py:750-782). With
    * snapshots the stored (bin, snap) cells are combined per bin; the
    * tiebreak bounds make first/last exact across cells.
    */
  def binResults(k: K): DataFrame = {
    val cfg = keys(k)
    val raw = store.get(k).df
    val hasLabel = cfg.xRows.isDefined
    (cfg.snapFreq, cfg.xRows) match {
      case (None, Some(_)) =>
        raw.select(Seq(col(BinCol), col(LabelCol),
          col(NCol).cast("long").as(NCol)) ++ aggCasts(cfg): _*)
      case (None, None) =>
        raw.select(col(BinCol) +: aggCasts(cfg): _*)
      case (Some(_), _) =>
        val extra =
          if (hasLabel) Seq(min(LabelCol).as(LabelCol),
            sum(NCol).as(NCol))
          else Nil
        val ce = combineExprs(cfg) ++ extra
        val front = col(BinCol) +:
          (if (hasLabel) Seq(col(LabelCol), col(NCol).cast("long").as(NCol))
           else Nil)
        raw.groupBy(BinCol).agg(ce.head, ce.tail: _*)
          .select(front ++ aggCasts(cfg): _*)
    }
  }

  /** Running snapshot frame (ref `snap_res`): one row per stored
    * (bin, snap) cell carrying the within-bin value up to that snapshot
    * (ref jcumsegagg.py preserve_res), computed by an ordered window
    * combine over the cells. None when `snapFreq` is unset.
    */
  def snapResults(k: K): Option[DataFrame] = {
    val cfg = keys(k)
    cfg.snapFreq.map { _ =>
      val raw = store.get(k).df
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(BinCol).orderBy(SnapCol)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val running = cfg.aggs.map { s =>
        val c = col(s.out)
        (s.fn match {
          case AggFn.First => min_by(c, col(tbMin)).over(w)
          case AggFn.Last  => max_by(c, col(tbMax)).over(w)
          case AggFn.Min   => min(c).over(w)
          case AggFn.Max   => max(c).over(w)
          case AggFn.Sum   => sum(c).over(w).cast("double")
        }).as(s.out)
      }
      val front =
        if (cfg.xRows.isDefined)
          Seq(col(BinCol),
            min(LabelCol).over(W.partitionBy(BinCol)).as(LabelCol),
            col(SnapCol),
            sum(NCol).over(w).cast("long").as(NCol))
        else Seq(col(BinCol), col(SnapCol))
      raw.select(front ++ running: _*)
    }
  }

  /** Snapshot frame on the FULL snapshot grid of each observed bin,
    * forwarding the running value through empty snapshot points (ref
    * empty-snapshot forwarding / preserve_res within a bin,
    * segmentby.py:965-1012 — the incremental analog of
    * SegmentAgg.snapshotsWithSpine). Time-binned keys get the full
    * bin-width grid (requires the default left label, so the bin value
    * is the grid start); count-binned keys get the bin's observed snap
    * span. One extra window pass over one row per grid cell.
    */
  def snapResultsWithSpine(k: K): Option[DataFrame] = {
    val cfg = keys(k)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(BinCol).orderBy(SnapCol)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def fill(spine: DataFrame, base: DataFrame, front: Seq[Column])
        : DataFrame = {
      val joined = spine.join(base, Seq(BinCol, SnapCol), "left")
      joined.select(front ++ cfg.aggs.map(s =>
        last(col(s.out), ignoreNulls = true).over(w).as(s.out)): _*)
    }
    cfg.snapFreq.map { sf =>
      val base = snapResults(k).get
      cfg.xRows match {
        case None =>
          require(cfg.label == "left",
            "snapResultsWithSpine needs left-labeled bins (bin = grid start)")
          // bin end: calendar frequencies have no `INTERVAL <freq>`
          // form (and variable width) — advance by calendar arithmetic,
          // cast back to the bin's own timestamp type (calendar bins
          // are midnight-aligned, so the date→timestamp cast is exact)
          val binDt = base.schema(BinCol).dataType
          val nextBin = cfg.binFreq.trim.toLowerCase match {
            case "week"    => col(BinCol) + expr("INTERVAL 7 DAYS")
            case "month"   => add_months(col(BinCol), 1).cast(binDt)
            case "quarter" => add_months(col(BinCol), 3).cast(binDt)
            case "year"    => add_months(col(BinCol), 12).cast(binDt)
            case _ => col(BinCol) + expr(s"INTERVAL ${cfg.binFreq}")
          }
          val spine = base.select(col(BinCol)).distinct()
            .withColumn("__end", nextBin - expr(s"INTERVAL $sf"))
            .select(col(BinCol), explode(sequence(col(BinCol),
              col("__end"), expr(s"INTERVAL $sf"))).as(SnapCol))
          fill(spine, base, Seq(col(BinCol), col(SnapCol)))
        case Some(_) =>
          // count bins have no intrinsic time width: the grid is the
          // bin's observed snap span (label/count forwarded per bin)
          val spine = base.groupBy(BinCol)
            .agg(min(SnapCol).as("__lo"), max(SnapCol).as("__hi"),
              min(LabelCol).as(LabelCol))
            .select(col(BinCol), col(LabelCol), explode(expr(
              s"sequence(__lo, __hi, INTERVAL $sf)")).as(SnapCol))
          fill(spine, base.drop(LabelCol),
            Seq(col(BinCol), col(LabelCol), col(SnapCol),
              last(col(NCol), ignoreNulls = true).over(w).as(NCol)))
      }
    }
  }

  /** User-facing results: post hook applied over (bins, snapshots),
    * internal columns dropped, decimal partial sums cast back to
    * double. Without a post hook this is the snapshot frame when
    * `snapFreq` is set (ref AggResType.SNAPS), the per-bin frame
    * otherwise.
    */
  def results(k: K): DataFrame = {
    val cfg = keys(k)
    val snaps =
      if (cfg.spineSnaps) snapResultsWithSpine(k) else snapResults(k)
    cfg.post match {
      case Some(p) => p(binResults(k), snaps)
      case None    => snaps.getOrElse(binResults(k))
    }
  }
}

object AggStream {
  /** Stateful pre hook (ref `pre(on, buffer)`): transforms a fresh seed
    * chunk given the persisted buffer string, returning the transformed
    * chunk and the new buffer — which is written to the result
    * datasets' kv atomically with the data, so restarts resume it.
    */
  type StatefulPre =
    (DataFrame, Option[String]) => (DataFrame, Option[String])

  /** Threads of the per-key fan-out: daemon, shared by every stream and
    * reused across chunks (idle ones exit after a minute), so a chunk
    * neither starts nor stops threads. Each task runs with its
    * submitter's local properties (see `agg`), so a reused thread
    * carries no earlier caller's job group. */
  private lazy val KeyThreads = java.util.concurrent.Executors
    .newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "aggstream-key"); t.setDaemon(true); t
    }

  val BinCol = "bin"
  val SnapCol = "snap"
  val LabelCol = "bin_label"
  val NCol = "n_rows"
  val StateKey = "aggstream.restart"
  val RowsKey = "aggstream.rows"
  val PreKey = "aggstream.pre"

  /** Restart index: seed replays from here (ref aggstream.py:274-369).
    * `exclusive=true` means rows == v were fully processed; `false`
    * means they were withheld by discardLast and must be re-processed.
    */
  final case class Restart(v: OrdVal, exclusive: Boolean) {
    def toJson: String = {
      val t = v.typeTag
      val raw = v match {
        case OrdLong(l) => l.toString
        case OrdDouble(d) => d.toString
        case OrdTs(us) => us.toString
      }
      s"""{"t":"$t","v":$raw,"excl":$exclusive}"""
    }
  }
  object Restart {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def fromJson(s: String): Restart = {
      val n = mapper.readTree(s)
      val v = n.get("t").asText() match {
        case "long" => OrdLong(n.get("v").asLong())
        case "double" => OrdDouble(n.get("v").asDouble())
        case "ts" => OrdTs(n.get("v").asLong())
      }
      Restart(v, n.get("excl").asBoolean())
    }
  }
}
