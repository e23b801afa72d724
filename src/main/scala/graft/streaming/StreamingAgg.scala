package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.agg.{AggFn, AggSpec, SegmentAgg}
import graft.store.{NRows, OrderedDataset, RowGroupTarget, WriteOpts}

/** Structured-Streaming form of the streamed segment aggregation
  * (SURVEY §7.2 step 8): the reference's AggStream semantics expressed
  * natively — event-time tumbling windows, update-mode emission of
  * changed bins per micro-batch, and `foreachBatch` keep-last upsert of
  * those bins into an OrderedDataset. The state store carries the
  * running aggregates (replacing the reference's `chunk_res` carry /
  * our batch-incremental mergeable partials), and the checkpoint
  * replaces the persisted restart index (T2/T3 natively).
  *
  * Output correctness relies on update mode emitting the FULL updated
  * aggregate of every bin touched by a batch — the keep-last upsert on
  * the bin label then makes the stored dataset converge to the one-shot
  * aggregation regardless of how the seed was chunked.
  */
object StreamingAgg {

  /** Watermark delay of both queries: "0 seconds" encodes the
    * reference's ordered-seed contract (AggStream raises on an
    * unordered seed). Convergence to the one-shot batch result holds
    * only while chunks arrive in non-decreasing event time (equal
    * boundary timestamps across chunks are safe — Spark drops
    * strictly-older-than-watermark rows only). */
  private val OrderedSeedWatermark = "0 seconds"

  /** Aggregate a streaming DataFrame into a store-backed result dataset.
    *
    * @param seed streaming DataFrame (readStream source)
    * @param orderedOn event-time column (timestamp)
    * @param tieCol deterministic within-bin order column for first/last
    * @param freq tumbling window duration, e.g. "1 hour"
    * @param specs the five-kernel agg plan
    * @param targetDir OrderedDataset directory for results
    * @param checkpointDir streaming checkpoint location
    */
  def run(seed: DataFrame, orderedOn: String, tieCol: String, freq: String,
      specs: Seq[AggSpec], targetDir: String, checkpointDir: String,
      target: RowGroupTarget = NRows(6345000L)): StreamingQuery = {
    val spark = seed.sparkSession
    val aggExprs = SegmentAgg.partialAggExprs(specs, col(tieCol))
    // groupBy the window struct itself (watermark propagation requires
    // it); project the start label after the aggregate
    val agg = seed
      .withWatermark(orderedOn, OrderedSeedWatermark)
      .groupBy(window(col(orderedOn), freq).as("w"))
      .agg(aggExprs.head, aggExprs.tail: _*)
      .select(col("w").getField("start").as("bin") +:
        specs.map(s => col(s.out)): _*)

    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ds = new OrderedDataset(spark, targetDir)
          ds.write(batch, WriteOpts("bin", target,
            duplicatesOn = Some(Seq("bin"))))
        }
        ()
      }
      .start()
  }

  /** Batch view of the streamed result with decimal sums cast back. */
  def results(spark: SparkSession, targetDir: String, specs: Seq[AggSpec])
      : DataFrame = {
    val ds = new OrderedDataset(spark, targetDir)
    val casts = specs.map { s =>
      if (s.fn == AggFn.Sum) col(s.out).cast("double").as(s.out)
      else col(s.out)
    }
    ds.df.select(col("bin") +: casts: _*)
  }

  /** T6 natively: snapshot (observation-point) aggregation as a
    * Structured Streaming job. One `window()` expression carries the
    * watermark (the fine snapshot grid); the coarse bin label is epoch
    * arithmetic (`SegmentAgg.timeBin`) — Spark forbids two window()
    * exprs per aggregate, which is exactly why timeBin exists. The
    * state store keeps one mergeable partial per (bin, snap) cell;
    * update mode re-emits each cell a batch touches and the keep-last
    * upsert on (bin, snap) converges the stored table; the running
    * within-bin combine happens at READ time (`resultsSnapshots`), so
    * restarts never need to rewind finalized cells (same two-phase
    * shape as `SegmentAgg.snapshots` and the batch-incremental
    * `StreamKeyCfg.snapFreq` path).
    */
  def runSnapshots(seed: DataFrame, orderedOn: String, tieCol: String,
      binFreq: String, snapFreq: String, specs: Seq[AggSpec],
      targetDir: String, checkpointDir: String,
      target: RowGroupTarget = NRows(6345000L)): StreamingQuery = {
    val spark = seed.sparkSession
    val partials = graft.agg.SegmentAgg.partialAggExprs(specs, col(tieCol))
    val agg = seed
      .withWatermark(orderedOn, OrderedSeedWatermark)
      .groupBy(window(col(orderedOn), snapFreq).as("w"),
        graft.agg.SegmentAgg.timeBin(col(orderedOn), binFreq).as("bin"))
      .agg(partials.head, partials.tail: _*)
      .select(col("bin") +: col("w").getField("start").as("snap") +:
        specs.map(s => col(s.out)): _*)

    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ds = new OrderedDataset(spark, targetDir)
          ds.write(batch, WriteOpts("snap", target,
            duplicatesOn = Some(Seq("bin"))))
        }
        ()
      }
      .start()
  }

  /** Batch view of the streamed snapshot cells: running within-bin
    * combine over the stored per-cell partials (one row per grid cell —
    * the window never sees raw data).
    */
  def resultsSnapshots(spark: SparkSession, targetDir: String,
      specs: Seq[AggSpec]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = new OrderedDataset(spark, targetDir)
    val w = Window.partitionBy("bin").orderBy("snap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ds.df.select(col("bin") +: col("snap") +: specs.map { s =>
      val p = col(s.out)
      (s.fn match {
        case AggFn.First => first(p).over(w)
        case AggFn.Last  => last(p).over(w)
        case AggFn.Min   => min(p).over(w)
        case AggFn.Max   => max(p).over(w)
        case AggFn.Sum   => sum(p).over(w).cast("double")
      }).as(s.out)
    }: _*)
  }
}
