package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import graft.store.{NRows, OrderedDataset, RowGroupTarget, WriteOpts}

/** Native Structured Streaming COUNT-based bins (the reference's
  * `by_x_rows` in streaming form — ref segmentby.py:712-1028 for the
  * batch semantics; the reference itself has no streaming engine).
  * Completes the T-matrix's native-streaming column next to
  * [[StreamingAgg]]'s time bins and snapshots: `t7_aggstream_xrows`
  * is the batch-incremental path, this is the state-store path.
  *
  * Count bins are defined by the GLOBAL row ordinal in seed order, so
  * the running ordinal and the open (tail) bin's partial aggregate
  * are carried in `flatMapGroupsWithState` state under ONE group key:
  * a deliberate single-task stage, because global count-binning is
  * sequential by definition — the same inherent bound as the
  * reference's single-process carry (`chunk_res`) and our
  * batch-incremental `AggStream` xRows restart state. This is the
  * one operator family where "scale out" is semantic nonsense; at
  * 100 TB you shard count bins BY KEY ([[runKeyed]] — N independent
  * per-key ordinals in N state-store partitions) or bin by time.
  * Each micro-batch is sorted in memory inside the group function
  * (bounded by micro-batch size, not stream size).
  *
  * Emission is update-shaped: every bin a batch touches is emitted
  * with its FULL current aggregate (completed bins once more on the
  * batch that closes them, the open bin as a snapshot every batch);
  * the keep-last upsert on the bin ordinal converges the stored
  * dataset to the one-shot binning — PROVIDED the source presents
  * rows in global (ts, tie) order ACROSS micro-batches (true for
  * ordered graft commits tailed in sequence; each batch is sorted
  * internally, so only cross-batch order is the source's burden).
  * The state carries the last-binned (ts, tie) to make that
  * precondition checked, not assumed: an out-of-order cross-batch
  * arrival would be silently mis-binned forever, so by default
  * (`strictOrder = true`) it fails the query with the contract named;
  * `strictOrder = false` downgrades to counting the stragglers into
  * the task log for sources where a bounded mis-binning is
  * acceptable.
  *
  * Five-kernel aggregate over one value column (first/last by the tie
  * column, min/max, decimal-exact sum carried as a string in state so
  * a checkpoint round-trip never loses precision).
  */
object StreamingXRows {

  final case class XIn(tie: Long, tsMicros: Long, value: Double)
  final case class KXIn(key: String, tie: Long, tsMicros: Long,
      value: Double)
  final case class OpenBin(bin: Long, labelMicros: Long, n: Long,
      firstTie: Long, firstV: Double, lastTie: Long, lastV: Double,
      minV: Double, maxV: Double, sumStr: String)
  /** STATE-SCHEMA COMPATIBILITY CONTRACT: `XState` (with the nested
    * [[OpenBin]]) is persisted in the streaming state store via its
    * product encoder — any field added, removed, reordered, or
    * retyped here is a BREAKING change for existing checkpoints
    * (Spark fails the restarted query with a state-schema
    * incompatibility, it does not migrate). The `version` field is
    * the SEMANTIC guard Spark's field-shape check cannot be: a
    * change that keeps the encoder shape but alters what the fields
    * MEAN (binning rule, sum encoding, ordinal semantics) must bump
    * [[StateVersion]], and a restart over a checkpoint stamped with
    * an older version then fails with the named remedy instead of
    * folding new batches onto reinterpreted state. Schema history:
    * v1 = the original shape (no version field); v2 = v1 + version.
    *
    * RELEASE NOTE for the v1 → v2 upgrade itself (ADVICE r9, stated
    * where operators will find it): adding the `version` field IS an
    * encoder-shape break — every v1 checkpoint fails its first
    * restarted batch on this build with SPARK'S RAW state-schema
    * incompatibility error (the friendly versioned message only
    * protects shape-preserving semantic bumps from v2 on). The
    * migration step is mandatory: stop the query, point it at a
    * FRESH checkpoint directory, and re-seed from the source — the
    * graft-source offsets replay deterministically and the count-bin
    * fold is replay-idempotent, so the rebuilt state converges to
    * exactly the pre-upgrade bins.
    *
    * To evolve in general: fresh checkpoint + re-seed as above, or
    * write a one-off state migration — do not edit these fields in
    * place and point at an old checkpoint.
    */
  final case class XState(version: Int, rowsSoFar: Long,
      open: Option[OpenBin], lastTsMicros: Long, lastTie: Long)

  /** Current [[XState]] semantic version — bump on ANY change to what
    * persisted state means, even when the encoder shape is unchanged.
    */
  val StateVersion = 2
  final case class XOut(bin: Long, label_micros: Long, n_rows: Long,
      first_v: Double, last_v: Double, min_v: Double, max_v: Double,
      sum_str: String)
  final case class KXOut(key: String, bin: Long, label_micros: Long,
      n_rows: Long, first_v: Double, last_v: Double, min_v: Double,
      max_v: Double, sum_str: String)

  private def dec(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(6,
      java.math.RoundingMode.HALF_UP)

  /** One group's micro-batch fold: sort, enforce/count the cross-batch
    * order contract, bin by the running ordinal, emit every touched
    * bin's full aggregate. Shared verbatim by the global and per-key
    * paths — the ONLY difference between them is the group key.
    */
  private def foldBatch(keyDesc: String, rows0: Array[XIn],
      state: GroupState[XState], xRows: Long, strictOrder: Boolean,
      expectVersion: Int)
      : Iterator[XOut] = {
    java.util.Arrays.sort(rows0,
      Ordering.by((r: XIn) => (r.tsMicros, r.tie)))
    if (rows0.isEmpty) Iterator.empty
    else {
      state.getOption.filter(_.version != expectVersion).foreach { st =>
        throw new IllegalStateException(
          s"StreamingXRows($keyDesc): checkpoint state version " +
            s"${st.version} != code state version $expectVersion — " +
            "the persisted count-bin state predates a semantic " +
            "change and folding onto it would corrupt bins. Start " +
            "the query against a FRESH checkpoint directory and " +
            "re-seed (graft-source offsets replay deterministically), " +
            "or migrate the state offline.")
      }
      val st0 = state.getOption.getOrElse(
        XState(expectVersion, 0L, None, Long.MinValue, Long.MinValue))
      val late = rows0.count(r =>
        r.tsMicros < st0.lastTsMicros ||
          (r.tsMicros == st0.lastTsMicros && r.tie < st0.lastTie))
      if (late > 0) {
        // rows ordered before an already-binned row: their ordinals —
        // and every later row's — no longer match the one-shot
        // binning; the keep-last upsert can never repair that
        require(!strictOrder,
          s"StreamingXRows($keyDesc): $late rows arrived out of " +
            "(ts, tie) order across micro-batches — the count-bin " +
            "ordinal is already past them, so the converge-to-one-" +
            "shot contract is broken. Feed an order-preserving " +
            "source (ordered graft commits), or pass " +
            "strictOrder = false to accept counted mis-binning")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"StreamingXRows($keyDesc): binning $late out-of-order " +
            "cross-batch rows at the CURRENT ordinal (strictOrder " +
            "off) — stored bins diverge from the one-shot binning")
      }
      var rowsSoFar = st0.rowsSoFar
      var open = st0.open
      val emitted = scala.collection.mutable.ArrayBuffer.empty[XOut]
      def snap(o: OpenBin): XOut =
        XOut(o.bin, o.labelMicros, o.n, o.firstV, o.lastV,
          o.minV, o.maxV, o.sumStr)
      def fresh(bin: Long, r: XIn): OpenBin =
        OpenBin(bin, r.tsMicros, 1L, r.tie, r.value, r.tie, r.value,
          r.value, r.value, dec(r.value).toPlainString)
      rows0.foreach { r =>
        val bin = rowsSoFar / xRows
        open match {
          case Some(o) if o.bin == bin =>
            open = Some(o.copy(
              labelMicros = math.min(o.labelMicros, r.tsMicros),
              n = o.n + 1,
              firstTie = math.min(o.firstTie, r.tie),
              firstV = if (r.tie < o.firstTie) r.value else o.firstV,
              lastTie = math.max(o.lastTie, r.tie),
              lastV = if (r.tie > o.lastTie) r.value else o.lastV,
              minV = math.min(o.minV, r.value),
              maxV = math.max(o.maxV, r.value),
              sumStr = new java.math.BigDecimal(o.sumStr)
                .add(dec(r.value)).toPlainString))
          case Some(o) => // the previous bin just completed
            emitted += snap(o)
            open = Some(fresh(bin, r))
          case None => open = Some(fresh(bin, r))
        }
        rowsSoFar += 1
      }
      open.foreach(o => emitted += snap(o)) // open-bin update
      val last = rows0.last
      state.update(XState(expectVersion, rowsSoFar, open,
        math.max(st0.lastTsMicros, last.tsMicros),
        if (last.tsMicros > st0.lastTsMicros ||
          (last.tsMicros == st0.lastTsMicros && last.tie > st0.lastTie))
          last.tie
        else st0.lastTie))
      emitted.iterator
    }
  }

  /** The group function sorts each micro-batch in ONE task's memory;
    * [[boundedArray]] fails fast with the remedies named instead of a
    * silent executor OOM when a source hands over an oversized batch
    * (e.g. a giant graft commit — rate-limit with
    * max_generations_per_trigger, or commit smaller increments). */
  private val MaxBatchRows = 20000000

  private def boundedArray[T](it: Iterator[T])
      (implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val rows = it.take(MaxBatchRows + 1).toArray
    require(rows.length <= MaxBatchRows,
      s"micro-batch exceeds MaxBatchRows=$MaxBatchRows for the " +
        "in-memory count-bin sort — rate-limit the source " +
        "(max_generations_per_trigger) or commit smaller increments")
    rows
  }

  def run(seed: DataFrame, orderedOn: String, tieCol: String,
      valueCol: String, xRows: Long, targetDir: String,
      checkpointDir: String, target: RowGroupTarget = NRows(6345000L),
      strictOrder: Boolean = true,
      /** Override ONLY to simulate/stage a version bump (specs, or a
        * deliberate migration); production callers take the default. */
      stateVersion: Int = StateVersion): StreamingQuery = {
    require(xRows > 0, s"xRows must be positive, got $xRows")
    val spark = seed.sparkSession
    import spark.implicits._
    val typed = seed.select(
      col(tieCol).cast("long").as("tie"),
      // explicit LTZ: a session with spark.sql.timestampType=NTZ would
      // otherwise make the bare "timestamp" cast NTZ, which
      // unix_micros rejects (session TZ is UTC, so the instant is the
      // same either way)
      unix_micros(col(orderedOn).cast("timestamp_ltz")).as("tsMicros"),
      col(valueCol).cast("double").as("value")).as[XIn]

    val out = typed.groupByKey(_ => 0)
      .flatMapGroupsWithState[XState, XOut](OutputMode.Update,
        GroupStateTimeout.NoTimeout) { (_, it, state) =>
        foldBatch("global", boundedArray(it), state,
          xRows, strictOrder, stateVersion)
      }

    out.toDF()
      .select(col("bin"),
        timestamp_micros(col("label_micros")).as("bin_label"),
        col("n_rows"), col("first_v"), col("last_v"),
        col("min_v"), col("max_v"),
        col("sum_str").cast("decimal(38,6)").cast("double").as("sum_v"))
      .writeStream
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

  /** The documented scale-out path, as code: count bins maintained
    * INDEPENDENTLY per key — `groupByKey(keyCol)` gives every key its
    * own ordinal + open-bin state in the state store, so N keys run
    * as N parallel sequential folds (shuffle-partition parallelism)
    * instead of one global one. Semantics per key are exactly
    * [[run]]'s: bin = ordinal / xRows in (ts, tie) order within the
    * key, same five-kernel aggregate, same cross-batch order
    * contract enforced per key. The keep-last upsert dedups on
    * (key, bin).
    */
  def runKeyed(seed: DataFrame, keyCol: String, orderedOn: String,
      tieCol: String, valueCol: String, xRows: Long, targetDir: String,
      checkpointDir: String, target: RowGroupTarget = NRows(6345000L))
      : StreamingQuery = {
    require(xRows > 0, s"xRows must be positive, got $xRows")
    val spark = seed.sparkSession
    import spark.implicits._
    val typed = seed.select(
      col(keyCol).cast("string").as("key"),
      col(tieCol).cast("long").as("tie"),
      unix_micros(col(orderedOn).cast("timestamp_ltz")).as("tsMicros"),
      col(valueCol).cast("double").as("value")).as[KXIn]

    val out = typed.groupByKey(_.key)
      .flatMapGroupsWithState[XState, KXOut](OutputMode.Update,
        GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val rows = boundedArray(it.map(r => XIn(r.tie, r.tsMicros, r.value)))
        foldBatch(s"key=$key", rows, state, xRows, strictOrder = true,
          StateVersion)
          .map(o => KXOut(key, o.bin, o.label_micros, o.n_rows,
            o.first_v, o.last_v, o.min_v, o.max_v, o.sum_str))
      }

    out.toDF()
      .select(col("key"), col("bin"),
        timestamp_micros(col("label_micros")).as("bin_label"),
        col("n_rows"), col("first_v"), col("last_v"),
        col("min_v"), col("max_v"),
        col("sum_str").cast("decimal(38,6)").cast("double").as("sum_v"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ds = new OrderedDataset(spark, targetDir)
          ds.write(batch, WriteOpts("bin", target,
            duplicatesOn = Some(Seq("key", "bin"))))
        }
        ()
      }
      .start()
  }

  /** Batch view of the streamed count bins. */
  def results(spark: SparkSession, targetDir: String): DataFrame =
    new OrderedDataset(spark, targetDir).df
}
