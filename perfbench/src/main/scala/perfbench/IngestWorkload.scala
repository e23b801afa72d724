package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.agg.{AggFn, AggSpec, SegmentAgg}
import graft.store.{Indexer, NRows, OrderedDataset, Store, WriteOpts}
import graft.stream.{AggStream, StreamKeyCfg}

/** `ingest`: the write path, no analytic reads. A base of ordered events
  * is built in set-up; the timed loop repeats three commits:
  *  - `append`: a batch of new events past the dataset's end, through
  *    `OrderedDataset.write` (keep-last on `event_id`);
  *  - `chunk`: the same batch fed to `AggStream.agg` for three keys —
  *    1-hour bins, 1-day bins with 1-hour snapshots, 1000-row bins — each
  *    key upserting its partials into its result dataset (many small
  *    upserts, the per-key thread fan-out). A fresh `AggStream` takes
  *    over every few chunks; every chunk restarts from stored state;
  *  - `upsert`: a correction of a random run of stored events (new values,
  *    same keys), overlapping one or two files.
  * Oracles: the generator's keep-last state for the events; a one-shot
  * groupBy over every appended batch for the aggregations (corrections
  * are not fed to the stream).
  */
final class IngestWorkload(spark: SparkSession, seed: Long, cpus: Int)
    extends Workload {
  val BaseRows = 100000L
  val BaseFiles = 20
  val BatchRows = 2000
  val WarmupCycles = 2
  val StepS = 1L
  val ChunksPerInstance = 3
  val XRows = 1000

  /** One closed-loop cycle, in this order. Each kind always follows the
    * same kind: an op pays for work the one before it left running (an
    * append right after a chunk takes about a third longer than one right
    * after an upsert), so a mix where a kind follows different kinds
    * splits its latencies into two clusters and its median into a jump
    * between them. */
  val kinds = Seq("append", "chunk", "upsert")
  private val gen = new Gen(seed)
  private val opts = WriteOpts("ts", NRows(BaseRows / BaseFiles),
    duplicatesOn = Some(Seq("event_id")))
  private val idx: Indexer[String] = Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
    if (l.head.size == 1) Some(l.head.head) else None)
  private val specs = Seq(
    AggSpec("first_v", "value", AggFn.First),
    AggSpec("last_v", "value", AggFn.Last),
    AggSpec("min_v", "value", AggFn.Min),
    AggSpec("max_v", "value", AggFn.Max),
    AggSpec("sum_v", "value", AggFn.Sum))
  private val keyCfgs = Map(
    "hourly" -> StreamKeyCfg(None, "1 hour", aggs = specs),
    "daily" -> StreamKeyCfg(None, "1 day", aggs = specs, snapFreq = Some("1 hour")),
    "xrows" -> StreamKeyCfg(None, "", aggs = specs, xRows = Some(XRows)))
  private val keys = keyCfgs.keys.toSeq.sorted

  private var dir = ""
  private var ds: OrderedDataset = _
  private var results: Store[String] = _
  private var stream: AggStream[String] = _
  private var rng = new scala.util.Random(seed)
  private var values = Array.emptyDoubleArray // current value by event_id
  private var next = 0L                       // next new event_id
  private var fedFrom = 0L                    // first event_id fed to the stream
  private var nOps = 0
  private var nChunks = 0
  private val resultCommits = scala.collection.mutable.ArrayBuffer.empty[Long]

  def build(d: String): Unit = {
    dir = d
    ds = new OrderedDataset(spark, s"$d/events")
    results = new Store(spark, s"$d/aggs", idx)
    rng = new scala.util.Random(seed)
    values = Array.tabulate(BaseRows.toInt)(i => gen.value(i.toLong))
    next = BaseRows
    fedFrom = BaseRows
    nOps = 0
    nChunks = 0
    resultCommits.clear()
    buildStep("events")(ds.write(gen.events(spark, 0, BaseRows, StepS, cpus), opts): Unit)
  }

  private def batch(from: Long): DataFrame =
    gen.events(spark, from, from + BatchRows, StepS, cpus)

  private def gens(): Map[String, Long] = keys.map { k =>
    val d = results.get(k)
    k -> (if (d.exists) d.generation else 0L)
  }.toMap

  private def step(rec: Recorder): Unit = {
    val kind = kinds(nOps % kinds.size)
    nOps += 1
    kind match {
      case "append" =>
        val from = next
        rec.op(kind) {
          val r = rec.span("store.write")(ds.write(batch(from), opts))
          rec.commit(Some(r), BatchRows.toLong)
          (BatchRows.toLong,
            if (r.rowsWritten < BatchRows) s"append wrote ${r.rowsWritten} rows" else "")
        }
        if (next + BatchRows > values.length)
          values = java.util.Arrays.copyOf(values, values.length * 2)
        (from until from + BatchRows).foreach(i => values(i.toInt) = gen.value(i))
        next += BatchRows
        rec.probe("store.meta")(ds.meta: Unit)
      case "chunk" =>
        val from = next - BatchRows
        if (nChunks % ChunksPerInstance == 0)
          stream = new AggStream(results, "ts", "event_id", keyCfgs, NRows(5000))
        nChunks += 1
        val gens0 = if (rec.willTrace(kind)) Some(gens()) else None
        // timestamps are unique, so no ordered_on-equal block is withheld
        rec.op(kind) {
          rec.span("stream.agg")(stream.agg(
            Iterator.single(batch(from).select("event_id", "ts", "value")),
            discardLast = false))
          keys.foreach(_ => rec.commit(None, 0L)) // one result commit per key
          (BatchRows.toLong, "")
        }
        afterChunk(rec, from, gens0)
      case "upsert" =>
        val lo = (rng.nextDouble() * (next - BatchRows)).toLong
        val delta = 1 + rng.nextInt(100)
        rec.op(kind) {
          val r = rec.span("store.write")(ds.write(batch(lo)
            .withColumn("value", col("value") + delta.toDouble), opts))
          rec.commit(Some(r), BatchRows.toLong)
          (BatchRows.toLong,
            if (r.rowsWritten < BatchRows) s"upsert wrote ${r.rowsWritten} rows" else "")
        }
        (lo until lo + BatchRows).foreach(i => values(i.toInt) = gen.value(i) + delta)
        rec.probe("store.meta")(ds.meta: Unit)
    }
  }

  /** After a traced chunk: count its result commits (generations gained
    * since `gens0`), time a results read and the one-shot aggregation of
    * the same chunk (the kernel floor). */
  private def afterChunk(rec: Recorder, from: Long,
      gens0: Option[Map[String, Long]]): Unit =
    gens0.foreach { g0 =>
      val g = gens()
      resultCommits += keys.map(k => g(k) - g0(k)).sum
      rec.probe("stream.results")(noop(stream.results(keys(nChunks % keys.size))))
      rec.probe("agg.oneshot") {
        val p = SegmentAgg.partialAggExprs(specs, col("event_id"))
        noop(batch(from).groupBy(SegmentAgg.timeBin(col("ts"), "1 hour").as("bin"))
          .agg(p.head, p.tail: _*))
      }
    }

  def warmup(rec: Recorder): Unit =
    (1 to WarmupCycles * kinds.size).foreach(_ => step(rec))

  def runTimed(rec: Recorder, deadlineNs: Long): Unit =
    cycles(deadlineNs)(kinds.foreach(_ => step(rec)))

  def finalChecks(): Seq[(String, Boolean)] = {
    // a chunk lags its append: feed the last batch if the loop stopped
    // between the two
    if (nOps % kinds.size == 1) step(new Recorder(None, warmup = true))
    Seq("keep_last_state" -> keepLastState(),
      "sidecar_ranges_disjoint_sorted" -> sidecarOrdered()) ++ streamChecks()
  }

  private def keepLastState(): Boolean = {
    val n = next.toInt
    val expSum = (0 until n).map(i => values(i)).sum
    val expW = (0 until n).map(i => (i % 1000) * values(i)).sum
    val r = ds.df.agg(count(lit(1)), countDistinct(col("event_id")),
      sum(col("value")), sum((col("event_id") % 1000L) * col("value"))).head()
    r.getLong(0) == n && r.getLong(1) == n && r.getDouble(2) == expSum &&
      r.getDouble(3) == expW
  }

  private def sidecarOrdered(): Boolean = {
    val files = ds.meta.files
    files.map(_.rows).sum == next &&
      files.zip(files.drop(1)).forall { case (a, b) => a.max < b.min } &&
      files.forall(f => !(f.max < f.min))
  }

  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** results(k) of every key against a one-shot groupBy over the whole
    * fed seed, written with plain Spark functions. */
  private def streamChecks(): Seq[(String, Boolean)] = {
    val fed = gen.events(spark, fedFrom, next, StepS, cpus)
    val aggs = Seq(min_by(col("value"), col("event_id")).as("first_v"),
      max_by(col("value"), col("event_id")).as("last_v"),
      min("value").as("min_v"), max("value").as("max_v"), sum("value").as("sum_v"))
    val vals = Seq("first_v", "last_v", "min_v", "max_v", "sum_v")
      .map(c => col(c).cast("double").as(c))
    def floorTo(stepS: Long) =
      (floor(unix_seconds(col("ts")) / stepS) * stepS * 1000000L).cast("long")
    // the result sets are small (one row per bin): compare as multisets
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }
    def same(a: DataFrame, b: DataFrame) = bag(a) == bag(b)

    val hourlyExp = fed.groupBy(floorTo(3600).as("bin")).agg(aggs.head, aggs.tail: _*)
      .select(col("bin") +: vals: _*)
    val hourlyGot = stream.results("hourly")
      .select(micros(col("bin")).as("bin") +: vals: _*)

    val cells = fed.groupBy(floorTo(86400).as("bin"), floorTo(3600).as("snap"))
      .agg(aggs.head, aggs.tail: _*)
    val w = Window.partitionBy("bin").orderBy("snap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dailyExp = cells.select(col("bin"), col("snap"),
      first("first_v").over(w).as("first_v"), last("last_v").over(w).as("last_v"),
      min("min_v").over(w).as("min_v"), max("max_v").over(w).as("max_v"),
      sum("sum_v").over(w).as("sum_v")).select(col("bin") +: col("snap") +: vals: _*)
    val dailyGot = stream.results("daily").select(micros(col("bin")).as("bin") +:
      micros(col("snap")).as("snap") +: vals: _*)

    val xExp = fed.groupBy(floor((col("event_id") - fedFrom) / XRows).cast("long").as("bin"))
      .agg(min(micros(col("ts"))).as("bin_label"), count(lit(1)).as("n_rows") +: aggs: _*)
      .select(col("bin") +: col("bin_label") +: col("n_rows") +: vals: _*)
    val xGot = stream.results("xrows").select(col("bin").cast("long").as("bin") +:
      micros(col("bin_label")).as("bin_label") +:
      col("n_rows").cast("long").as("n_rows") +: vals: _*)

    Seq("stream_hourly_matches_oneshot" -> same(hourlyGot, hourlyExp),
      "stream_daily_snapshots_match_oneshot" -> same(dailyGot, dailyExp),
      "stream_xrows_match_oneshot" -> same(xGot, xExp))
  }

  private def datasets = ds +: keys.map(results.get)

  def storeStats: StoreStats = StoreStats.of(datasets, Seq(dir))

  /** Live bytes per live row of the events dataset (the result datasets
    * are reported in the traced run's store metrics). */
  def storedBytesPerRow: Double = {
    val s = StoreStats.of(Seq(ds), Seq(s"$dir/events"))
    s.liveBytes.toDouble / s.liveRows
  }

  def sizes: Seq[(String, Any)] = Seq("base_rows" -> BaseRows,
    "base_files" -> BaseFiles, "batch_rows" -> BatchRows, "stream_keys" -> keys.size,
    "chunks_per_instance" -> ChunksPerInstance, "warmup_cycles" -> WarmupCycles,
    "rows_at_end" -> next)

  val gated = Seq("append_p50_s", "upsert_p50_s", "chunk_p50_s")

  def recordExtras: Seq[(String, Any)] = {
    val aggRows = StoreStats.of(keys.map(results.get), Nil)
    Seq("aggstream_stored_bytes_per_row" -> aggRows.liveBytes.toDouble / aggRows.liveRows)
  }

  def traceExtras(t: Tracer): Seq[(String, Any)] = {
    val chunks = t.opSpansOf("chunk")
    Seq(
      "store.append_commit_s" -> tracedMean(t, "append"),
      "store.upsert_commit_s" -> tracedMean(t, "upsert"),
      "stream.chunk_driver_s" -> Stats.mean(chunks.map(s => (s.durNs - t.jobsNs(s)) / 1e9)),
      "stream.chunk_jobs_s" -> Stats.mean(chunks.map(s => t.jobsNs(s) / 1e9)),
      "stream.jobs_per_chunk" -> Stats.mean(chunks.map(s => t.jobsOf(s).size.toDouble)),
      "stream.result_commits_per_chunk" -> Stats.mean(resultCommits.map(_.toDouble).toSeq),
      "stream.results_read_s" -> t.meanSeconds("stream.results"),
      "agg.oneshot_s_per_chunk" -> t.meanSeconds("agg.oneshot"),
      "store.rows_written_per_batch_row_by_commit" -> t.rowsWrittenPerBatchRow)
  }
}
