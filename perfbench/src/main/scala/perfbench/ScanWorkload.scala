package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{DedupIndex, DedupOps, IndexSegments}
import graft.store.{Indexer, NRows, OrdTs, OrderedDataset, Store, WriteOpts}

/** `scan`: read-only. Set-up builds a store of per-type event datasets
  * (`click` with zone maps and HLL sketches, `view` and `purchase`
  * without) plus a sharded family of all events. The timed loop cycles
  * through a fixed mix (every read twice, then a probe) at seeded
  * positions, each read from building the frame to a noop sink:
  *  - `point`: 1-minute `rangeDF` on `click`;
  *  - `hour` / `day`: 1-hour `rangeDF` on `view`, 1-day on `purchase`;
  *  - `across`: 6-hour `Store.rangeDFAcross` over the shards;
  *  - `intersections`: 1-hour `Store.intersectionsDF` over the 3 types;
  *  - `sql_skip`: `format("graft")` SQL with a filter on `event_id`
  *    (a secondary column, pruned by zone maps);
  *  - `stats_agg`: metadata-only count/min/max SQL over `click`;
  *  - `probe`: `DedupIndex.probeMinhash` of a batch of new documents,
  *    about a fifth of them planted near-duplicates (last word replaced)
  *    of stored ones, against a MinHash LSH index of a stored corpus
  *    (a base plus live delta segments), verified by exact Jaccard
  *    against the corpus. The batch is not added: the index stays fixed.
  * Each read's row count and value sum (observed in the same pass) must
  * equal the generator's; each probe must report every planted pair and
  * no pair below the threshold.
  */
final class ScanWorkload(spark: SparkSession, seed: Long, cpus: Int)
    extends Workload {
  val Events = 120000L
  val StepS = 6L
  val RowsPerFile = 2000L
  val Shards = 2
  val WarmupCycles = 3
  // dedup probe
  val CorpusDocs = 3000L
  val Segments = 2
  val SegmentDocs = 200L
  val Words = 60
  val Vocab = 20000
  val BatchDocs = 200
  val PlantFrac = 0.2
  val ShingleN = 3
  val NumHashes = 16
  val Bands = 8
  val Threshold = 0.8

  private val reads = Seq("point", "hour", "day", "across", "intersections",
    "sql_skip", "stats_agg")
  val kinds = reads :+ "probe"
  /** One closed-loop cycle: every read twice, then one probe. */
  private val cycle = reads ++ reads :+ "probe"
  private val gen = new Gen(seed)
  private val idx: Indexer[String] = Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
    if (l.head.size == 1) Some(l.head.head) else None)

  private var dir = ""
  private var store: Store[String] = _
  private var shardKeys: Seq[String] = Nil
  private var docs: OrderedDataset = _
  private var indexDir = ""
  private var nextDoc = 0L
  private var planted = 0L
  private var found = 0L
  private var rng = new scala.util.Random(seed)
  private var nOps = 0

  // prefix[t](i) = (rows, value sum) of type t among events [0, i);
  // index 3 = all types
  private val prefixN = Array.fill(4)(new Array[Long](Events.toInt + 1))
  private val prefixS = Array.fill(4)(new Array[Double](Events.toInt + 1))
  (0 until Events.toInt).foreach { i =>
    val t = gen.typeIx(i.toLong)
    val v = gen.value(i.toLong)
    (0 until 4).foreach { k =>
      val hit = k == t || k == 3
      prefixN(k)(i + 1) = prefixN(k)(i) + (if (hit) 1 else 0)
      prefixS(k)(i + 1) = prefixS(k)(i) + (if (hit) v else 0.0)
    }
  }
  private lazy val clickValues = (0 until Events.toInt)
    .filter(i => gen.typeIx(i.toLong) == 0).map(i => gen.value(i.toLong))

  /** The words of document `id`: a pure function of (seed, id). */
  private def words(id: Column): Column =
    transform(sequence(lit(0), lit(Words - 1)), j =>
      concat(lit("w"), pmod(xxhash64(lit(seed), id, j), lit(Vocab)).cast("string")))

  /** Documents [from, until); `plants` maps a new id to the stored
    * document it near-duplicates (whose text is `words(id)`). */
  private def docsDf(from: Long, until: Long, plants: Map[Long, Long]): DataFrame = {
    val src = if (plants.isEmpty) lit(null).cast("long")
      else try_element_at(typedLit(plants), col("doc_id"))
    spark.range(from, until, 1, cpus).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        when(src.isNull, concat_ws(" ", words(col("doc_id"))))
          .otherwise(concat_ws(" ", concat_ws(" ", slice(words(src), 1, Words - 1)),
            concat(lit("x"), col("doc_id").cast("string")))).as("text"))
  }

  def build(d: String): Unit = {
    dir = s"$d/store"
    store = new Store(spark, dir, idx)
    rng = new scala.util.Random(seed)
    nOps = 0
    planted = 0L
    found = 0L
    // corpus + index: a base run and Segments live delta segments
    docs = new OrderedDataset(spark, s"$d/docs")
    indexDir = s"$d/index"
    nextDoc = CorpusDocs + Segments * SegmentDocs
    buildStep("docs")(docs.write(docsDf(0, nextDoc, Map.empty),
      WriteOpts("doc_id", NRows(CorpusDocs), colStats = false)): Unit)
    (0 to Segments).foreach { s =>
      val (lo, hi) =
        if (s == 0) (0L, CorpusDocs)
        else (CorpusDocs + (s - 1) * SegmentDocs, CorpusDocs + s * SegmentDocs)
      buildStep(s"index$s")(DedupIndex.buildMinhash(spark, indexDir,
        docsDf(lo, hi, Map.empty), "doc_id", "text", ShingleN, NumHashes, Bands,
        rowsPerFile = CorpusDocs * Bands))
    }
    val ev = gen.events(spark, 0, Events, StepS, cpus)
    Gen.Types.foreach { t =>
      val opts =
        if (t == "click") WriteOpts("ts", NRows(RowsPerFile),
          sketchCols = Seq("user_id", "event_id"))
        else WriteOpts("ts", NRows(RowsPerFile), colStats = false)
      buildStep(t)(store.get(t).write(ev.filter(col("event_type") === t), opts): Unit)
    }
    shardKeys = buildStep("shards")(store.shardedWrite(ev,
      WriteOpts("ts", NRows(2 * RowsPerFile), colStats = false),
      i => s"shard$i", targetRowsPerShard = Events / Shards))
    spark.read.format("graft").load(store.dirOf("click"))
      .createOrReplaceTempView("clicks")
  }

  private def us(sec: Long) = OrdTs(sec * 1000000L)
  private def ceilDiv(a: Long, b: Long) = Math.floorDiv(a + b - 1, b)
  /** Event-index range [lo, hi) of timestamps [loS, hiS). */
  private def ixRange(loS: Long, hiS: Long): (Int, Int) = {
    def ix(s: Long) = math.max(0L, math.min(Events, ceilDiv(s - gen.T0, StepS))).toInt
    (ix(loS), ix(hiS))
  }
  private def expected(k: Int, r: (Int, Int)): (Long, Double) =
    (prefixN(k)(r._2) - prefixN(k)(r._1), prefixS(k)(r._2) - prefixS(k)(r._1))

  /** A window of `spanS` seconds starting at a seeded position. */
  private def window(spanS: Long): (Long, Long) = {
    val lo = gen.T0 + (rng.nextDouble() * (Events * StepS - spanS)).toLong
    (lo, lo + spanS)
  }

  /** Noop-sink read with row count and value sum observed in-pass. */
  private def observed(df: DataFrame): (Long, Double) = {
    val obs = Observation(s"chk$nOps")
    noop(df.observe(obs, count(lit(1)).as("n"), sum(col("value")).as("s")))
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("s")).map(_.asInstanceOf[Double]).getOrElse(0.0))
  }

  private def filesOf(keys: Seq[String]): Long =
    keys.map(k => store.get(k).meta.files.size.toLong).sum

  private def check(kind: String, got: (Long, Double), exp: (Long, Double)): (Long, String) =
    (got._1, if (got == exp) "" else s"$kind read $got, expected $exp")

  private def step(rec: Recorder, kind: String): Unit = {
    nOps += 1
    if (kind == "probe") return probe(rec)
    val (loS, hiS) = kind match {
      case "point" => window(60)
      case "hour" | "intersections" => window(3600)
      case "day" => window(86400)
      case "across" => window(6 * 3600)
      case _ => window(3000 * StepS)
    }
    val keysRead = kind match {
      case "point" | "sql_skip" | "stats_agg" => Seq("click")
      case "hour" => Seq("view")
      case "day" => Seq("purchase")
      case "across" => shardKeys
      case _ => Gen.Types
    }
    val candidates = if (rec.willTrace(kind)) filesOf(keysRead) else 0L
    rec.op(kind) {
      rec.candidateFiles(candidates)
      val r = ixRange(loS, hiS)
      kind match {
        case "point" | "hour" | "day" =>
          val t = Gen.Types.indexOf(keysRead.head)
          val got = rec.span(s"store.${kind}_read")(observed(
            store.get(keysRead.head).rangeDF(Some(us(loS)), Some(us(hiS)))))
          check(kind, got, expected(t, r))
        case "across" =>
          val got = rec.span("store.across_read")(observed(
            store.rangeDFAcross(shardKeys, Some(us(loS)), Some(us(hiS)))))
          check(kind, got, expected(3, r))
        case "intersections" =>
          val got = rec.span("store.intersections")(observed(
            store.intersectionsDF(Gen.Types, Some(us(loS)), Some(us(hiS)), identity)))
          check(kind, got, expected(3, r))
        case "sql_skip" =>
          val got = rec.span("sources.sql_skip_read")(observed(spark.sql(
            s"SELECT * FROM clicks WHERE event_id >= ${r._1} AND event_id < ${r._2}")))
          check(kind, got, expected(0, r))
        case "stats_agg" =>
          val row = rec.span("sources.stats_agg")(spark.sql(
            "SELECT count(*), min(value), max(value) FROM clicks").head())
          val ok = row.getLong(0) == clickValues.size &&
            row.getDouble(1) == clickValues.min && row.getDouble(2) == clickValues.max
          (1L, if (ok) "" else s"stats_agg read $row")
      }
    }
    rec.probe("store.meta")(store.get(keysRead.head).meta: Unit)
  }

  private def probe(rec: Recorder): Unit = {
    // probe batches take fresh ids past the corpus; sources are stored docs
    val from = nextDoc + nOps * BatchDocs
    val plants = (from until from + BatchDocs)
      .filter(_ => rng.nextDouble() < PlantFrac)
      .map(id => id -> (rng.nextDouble() * nextDoc).toLong).toMap
    rec.op("probe") {
      val batch = docsDf(from, from + BatchDocs, plants)
      val pairs = rec.span("pipeline.probe")(DedupIndex.probeMinhash(spark, indexDir,
        batch, docs.df, "doc_id", "text", ShingleN, NumHashes, Bands, Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      val got = pairs.map(p => (p._1, p._2)).toSet
      val hit = plants.count { case (j, i) => got.contains((i, j)) }
      planted += plants.size
      found += hit
      val low = pairs.count(_._3 < Threshold)
      (pairs.length.toLong,
        if (hit == plants.size && low == 0) ""
        else s"probe $from: ${plants.size - hit} planted pairs missed, $low below threshold")
    }
    rec.probe("store.meta")(docs.meta: Unit)
    rec.probe("functions.signature") {
      noop(DedupOps.minhashSignature(DedupOps.shingleArrays(
        docsDf(from, from + BatchDocs, plants), "doc_id", "text", ShingleN), NumHashes))
    }
  }

  /** Whole cycles: three probes, as the first ones run up to twice as
    * long, and six reads of each kind. */
  def warmup(rec: Recorder): Unit =
    (1 to WarmupCycles).foreach(_ => cycle.foreach(step(rec, _)))

  def runTimed(rec: Recorder, deadlineNs: Long): Unit =
    cycles(deadlineNs)(cycle.foreach(step(rec, _)))

  /** Reads are checked one by one; the stores must be untouched. */
  def finalChecks(): Seq[(String, Boolean)] = {
    val keys = Gen.Types ++ shardKeys
    val rows = keys.map(k => store.get(k).meta.totalRows).sum
    val indexRows = indexParts.map(_.m.totalRows).sum
    Seq("store_unchanged" -> (rows == 2 * Events),
      "index_unchanged" -> (docs.meta.totalRows == nextDoc && indexRows == nextDoc * Bands),
      "planted_recall_1" -> (found == planted))
  }

  private def indexParts = IndexSegments.liveParts(spark, indexDir)

  def storeStats: StoreStats =
    StoreStats.of((Gen.Types ++ shardKeys).map(store.get) ++ (docs +: indexParts.map(_.ds)),
      Seq(dir, docs.dir, indexDir))

  def storedBytesPerRow: Double = {
    val s = storeStats
    s.liveBytes.toDouble / s.liveRows
  }

  def sizes: Seq[(String, Any)] = Seq("events" -> Events, "step_s" -> StepS,
    "rows_per_file" -> RowsPerFile, "shards" -> shardKeys.size,
    "warmup_cycles" -> WarmupCycles,
    "corpus_docs" -> nextDoc,
    "index_live_segments" -> Segments, "probe_batch_docs" -> BatchDocs,
    "words_per_doc" -> Words, "num_hashes" -> NumHashes, "bands" -> Bands,
    "threshold" -> Threshold)

  /** Every read kind pooled: the reads' median and tail. */
  override def groups: Seq[(String, Seq[String])] = super.groups :+ ("read" -> reads)

  /** The pooled median sits among the single-dataset reads; the
    * slowest read kind, `intersections`, is gated on its own. (The
    * pooled tail is not gated: intersections are a seventh of the reads,
    * so the tail's rank falls on either side of them as the number of
    * cycles changes.) */
  val gated = Seq("read_p50_s", "probe_p50_s", "intersections_p50_s")

  def recordExtras: Seq[(String, Any)] =
    Seq("planted_pairs" -> planted, "planted_found" -> found)

  def traceExtras(t: Tracer): Seq[(String, Any)] = Seq(
    "store.point_read_s" -> t.meanSeconds("store.point_read"),
    "store.range_read_s" -> Stats.mean(
      (t.spansNamed("store.hour_read") ++ t.spansNamed("store.day_read")).map(_.seconds)),
    "store.across_read_s" -> t.meanSeconds("store.across_read"),
    "store.intersections_s" -> t.meanSeconds("store.intersections"),
    "sources.sql_skip_read_s" -> t.meanSeconds("sources.sql_skip_read"),
    "sources.stats_agg_s" -> t.meanSeconds("sources.stats_agg"),
    "sources.stats_agg_jobs" ->
      Stats.mean(t.opSpansOf("stats_agg").map(s => t.jobsOf(s).size.toDouble)),
    "pipeline.probe_s" -> t.meanSeconds("pipeline.probe"),
    "pipeline.live_segments" -> (indexParts.size - 1),
    "pipeline.planted_recall" -> (if (planted == 0) 1.0 else found.toDouble / planted),
    "functions.signature_s_per_batch" -> t.meanSeconds("functions.signature"))
}
