package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.types.StructType
import graft.store.OrderedDataset

/** The ordered store as a NATIVE Structured Streaming source (the
  * Delta streaming-source analog): `spark.readStream.format("graft")
  * .load(dir)` tails the dataset, one micro-batch per committed
  * generation range.
  *
  *  - Offsets are sidecar GENERATIONS — the commit log the store
  *    already keeps for time travel. `getOffset` is one sidecar read;
  *    no directory listing, no file-arrival heuristics.
  *  - A batch is the INSERT side of [[OrderedDataset.changeFeed]]
  *    between the two offsets: the driver diffs file lists, reads only
  *    files the commits touched, and rows rewritten unchanged by a
  *    compaction/upsert cancel out — so steady appends stream exactly
  *    the appended rows, however the writer re-chunked them.
  *  - An UPDATE (keep-last upsert) streams as a re-insert of the new
  *    row version; deletes are not emitted (append-oriented contract —
  *    downstream keep-last dedup, e.g. `StreamingDedup`/`StreamingAgg`
  *    upsert sinks, resolves re-inserts exactly as the reference's
  *    restart-overwrite semantics do).
  *  - Restart/replay: offsets come back from the checkpoint and
  *    `getBatch` recomputes the same diff from RETAINED generations.
  *    A stream lagging past `OrderedDataset.retireGraceMs` fails
  *    loudly ("not retained" — raise the grace window for streamed
  *    datasets, the Delta vacuum-vs-streaming trade).
  *
  * `starting_generation` option: first batch streams the changes
  * SINCE that generation instead of the full initial snapshot
  * (Delta's `startingVersion`).
  */
final class GraftStreamSource(spark: SparkSession, dir: String,
    startingGen: Option[Long],
    maxGensPerTrigger: Option[Long] = None) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val ds = new OrderedDataset(spark, dir)

  /** Generation pinned by Trigger.AvailableNow at start: the run
    * drains up to here in (rate-limited) batches, then stops —
    * commits landing mid-run wait for the next run. */
  @volatile private var availableNowTarget: Option[Long] = None

  override val schema: StructType = GraftStreamSource.schemaOf(spark, dir)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(if (ds.exists) ds.generation else 0L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control (the engine calls this instead of getOffset):
    * advance at most `max_generations_per_trigger` generations per
    * micro-batch — a backfill over a long-retained dataset streams in
    * bounded batches instead of one giant catch-up (the
    * maxFilesPerTrigger analog; offsets are generations). With no
    * start offset yet, the cap counts from the OLDEST retained
    * generation, so even the initial snapshot is the earliest
    * addressable state plus bounded diffs.
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit)
      : OffsetV2 = {
    if (!ds.exists) return null
    val live0 = ds.generation
    val live = availableNowTarget.fold(live0)(math.min(live0, _))
    val g = maxGensPerTrigger match {
      case Some(m) =>
        val base = Option(startOffset).map(genOf).orElse(startingGen)
          .orElse(ds.generations.headOption.map(_ - 1L))
        base.map(b => math.min(live, b + m)).getOrElse(live)
      case None => live
    }
    // nothing new vs a requested start: report the start itself rather
    // than an empty first batch
    if (startingGen.exists(_ >= g)) LongOffset(startingGen.get)
    else LongOffset(g)
  }

  override def getOffset: Option[OffsetV1] =
    // unused when SupportsAdmissionControl is present; kept equivalent
    Option(latestOffset(null, getDefaultReadLimit))
      .map(o => LongOffset(genOf(o)))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1)
      : DataFrame = {
    val endGen = gen(end)
    val batch = start.map(gen).orElse(startingGen) match {
      case Some(s) if s >= endGen =>
        ds.dfAsOf(endGen).limit(0)
      case Some(s) =>
        ds.changeFeed(s, endGen)
          .filter(col("_change_type") === "insert")
          .drop("_change_type")
      case None =>
        // initial batch: the full snapshot at the first seen generation
        ds.dfAsOf(endGen)
    }
    SparkInternals.streamingDataFrame(batch)
  }

  private def gen(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  private def genOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$dir]"
}

object GraftStreamSource {
  /** Streaming schema = exactly what batch reads serve (the
    * nullable-relaxed sidecar schema); requires the dataset to exist
    * when the stream starts so the schema is known. */
  private[sources] def schemaOf(spark: SparkSession, dir: String)
      : StructType = {
    val ds = new OrderedDataset(spark, dir)
    require(ds.exists,
      s"graft streaming source requires an existing dataset at $dir " +
        "(create it with a first write, then start the stream)")
    ds.df.schema
  }
}
