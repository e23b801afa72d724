package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.{NRows, OrderedDataset, WriteOpts}

/** Store-backed BM25 postings index for INCREMENTAL lexical retrieval
  * — the sparse sibling of [[IvfIndex]], same layout discipline as
  * [[DedupIndex]]: one `(hkey, term, id, tf, dl)` row per distinct
  * (document, term), ordered on the term's md5 leading 60 bits. Query
  * terms hash to points, so a search is a driver-planned multi-point
  * read that opens ONLY the postings files whose zone map covers a
  * queried term — I/O ∝ Σ df(query term), independent of corpus size.
  *
  * Write path (r12, VERDICT r11 #1): a daily crawl increment lands as
  * an LSM DELTA SEGMENT ([[IndexSegments]]) — tokenize the increment,
  * sort, write a fresh run; cost ∝ increment. The old in-place upsert
  * interleaved uniformly-hashed terms into every postings file, making
  * every add an O(index) rewrite. Probes union base + live segments
  * (same zone-map routing per segment); [[DedupIndex.compactIndex]]
  * folds segments back periodically.
  *
  * Corpus scalars (N, Σdl — the BM25 normalizers) live in the BASE
  * sidecar kv. [[add]] bumps them with [[OrderedDataset.transformKv]]
  * (a locked read-modify-write, so concurrent adds compose); a crash
  * BETWEEN an add's segment commit and its kv bump leaves the scalars
  * understated — detectable and repairable with [[recountStats]], and
  * harmless to ranking monotonicity (every score shares the same
  * normalizers).
  *
  * Scoring replays [[RetrievalOps.scoreTermTable]] on the pruned
  * read: document frequencies are counted from the very rows the
  * probe fetched (they are exactly that term's postings), so indexed
  * results are IDENTICAL to the brute [[RetrievalOps.bm25TopK]] over
  * the same corpus — the oracle-equality the driver checks.
  */
object Bm25Index {
  val Kind = "bm25"
  private val NDocsKey = "graft.bm25.n_docs"
  private val SumDlKey = "graft.bm25.sum_dl"

  /** Queue budget for an add's corpus-scalar bump: a compaction fold
    * holds the base kv lock for its ENTIRE Spark job, and the default
    * transformKv wait (~10 s) would throw AFTER the add's segment
    * already committed, leaving N/Σdl understated despite the
    * concurrent-adds-compose contract (ADVICE r12). The bump's own
    * critical section is milliseconds — a long queue is safe, and an
    * add outwaiting a fold is exactly the composition the scaladoc
    * promises. A fold longer than this still times out loudly; the
    * remedy stays [[recountStats]]. */
  val KvBumpWaitMs: Long = 30L * 60 * 1000

  private def scalars(tf: DataFrame): (Long, Long) = {
    val r = tf.groupBy("id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).cast("long"), sum("dl").cast("long"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def postingRows(tf: DataFrame): DataFrame =
    tf.select(DedupIndex.hkey60(md5(col("term"))).as("hkey"),
      col("term"), col("id"), col("tf"), col("dl"))

  private def scalarRemedy(dir: String): String =
    s"index at $dir lacks the BM25 corpus scalars " +
      s"($NDocsKey/$SumDlKey) — repair with " +
      s"Bm25Index.recountStats(spark, \"$dir\") or rebuild with " +
      "Bm25Index.build"

  /** Build the index at `dir` from a corpus (the base run). Extending
    * an existing index is [[add]]'s job — a second build would
    * overwrite the corpus scalars with just its own batch's. */
  def build(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, textCol: String, rowsPerFile: Long = 1000000L)
      : Unit = {
    require(!new OrderedDataset(spark, dir).exists,
      s"a graft index already exists at $dir — extend it with " +
        "Bm25Index.add (build would overwrite the corpus scalars)")
    val tf = RetrievalOps.termFreqs(corpus, idCol, textCol).persist()
    try {
      val (n, s) = scalars(tf)
      new OrderedDataset(spark, dir).write(postingRows(tf),
        WriteOpts("hkey", NRows(rowsPerFile),
          duplicatesOn = Some(Seq("term", "id")),
          kv = Map("graft.index.kind" -> Kind,
            NDocsKey -> n.toString, SumDlKey -> s.toString))): Unit
    } finally tf.unpersist(): Unit
  }

  /** Extend the index with an increment: tokenize ONLY the batch,
    * land its postings as a fresh delta segment (cost ∝ increment —
    * no base rewrite, no write lock), bump the corpus scalars under
    * the base kv lock. Re-adding an id double-counts it — dedup
    * increments upstream, like every [[DedupIndex]] ingest does.
    * Concurrent adds compose by construction: they write DISTINCT
    * segment dirs, and the scalar bumps are locked RMWs.
    *
    * `maxSegments` (opt-in, default off — adds stay pure
    * O(increment)): self-bound the probe read amplification by folding
    * segments back once `maxSegments` are live
    * ([[DedupIndex.compactIndexIfNeeded]] after the segment lands) —
    * one amortized O(index) fold per `maxSegments` adds.
    */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, rowsPerFile: Long = 1000000L,
      maxSegments: Option[Int] = None): Unit = {
    val ds = new OrderedDataset(spark, dir)
    DedupIndex.requireCfg(ds, Kind, None)
    // name the remedy BEFORE any work (ADVICE r11): scalars can be
    // absent after a crash between a previous add's data commit and
    // its kv bump — failing after THIS increment's write would widen
    // the understatement it reports
    require(ds.kv.contains(NDocsKey) && ds.kv.contains(SumDlKey),
      scalarRemedy(dir))
    val tf = RetrievalOps.termFreqs(batch, idCol, textCol).persist()
    try {
      val (n, s) = scalars(tf)
      IndexSegments.writeSegment(spark, dir, postingRows(tf),
        WriteOpts("hkey", NRows(rowsPerFile),
          duplicatesOn = Some(Seq("term", "id")),
          kv = Map("graft.index.kind" -> Kind)))
      ds.transformKvWait(KvBumpWaitMs) { kv =>
        // re-check inside the lock: a concurrent recountStats/repair
        // could have raced the pre-check above
        require(kv.contains(NDocsKey) && kv.contains(SumDlKey),
          scalarRemedy(dir))
        kv + (NDocsKey -> (kv(NDocsKey).toLong + n).toString) +
          (SumDlKey -> (kv(SumDlKey).toLong + s).toString)
      }
    } finally tf.unpersist(): Unit
    maxSegments.foreach(ms =>
      DedupIndex.compactIndexIfNeeded(spark, dir, ms): Unit)
  }

  /** Take documents DOWN from the index (the corpus-purge twin of
    * [[add]], dispatched by [[DedupIndex.removeDocs]]): register an id
    * tombstone ([[IndexSegments.removeIds]] — probes stop returning
    * the ids immediately, the next compaction purges them physically)
    * and decrement the corpus scalars by exactly what the index held
    * for those ids. Finding the removed docs' lengths is ONE union
    * scan restricted by the equi-join — id is not the ordered key, so
    * this is an O(index) READ (no rewrite); takedowns are rare and
    * the honest alternative (trusting caller-supplied lengths) would
    * corrupt the normalizers on a wrong claim. The tombstone is
    * registered BEFORE the scan and the scan self-excludes only its
    * own tombstone, so concurrent overlapping removes never
    * double-decrement (r14). A crash between the tombstone and the
    * bump — or a truly simultaneous overlapping remove — overstates
    * N/Σdl; [[recountStats]] is the repair for both, and it reads
    * tombstone-filtered truth. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val ds0 = new OrderedDataset(spark, dir)
    DedupIndex.requireCfg(ds0, Kind, None)
    require(ds0.kv.contains(NDocsKey) && ds0.kv.contains(SumDlKey),
      scalarRemedy(dir))
    val idsDf = ids.select(col(ids.columns.head).cast("long").as("id"))
      .na.drop().distinct()
    // REGISTER FIRST (ADVICE r13): two concurrent removes with
    // overlapping ids used to both scan pre-tombstone state and both
    // decrement the overlap's contribution. Registering before the
    // scan, then scanning with every OTHER remove's tombstone applied
    // (self-excluded — our own ids must still be countable), means an
    // overlap is counted by at most one remove. Truly simultaneous
    // registrations can leave the overlap counted by NEITHER — the
    // same overstatement direction as the documented crash window
    // between tombstone and bump; recountStats is the repair for both.
    val name = IndexSegments.removeIds(spark, dir, idsDf)
    val parts = DedupIndex.partsFor(spark, dir, Kind, None)
    val r = IndexSegments.unionDfExcept(parts, Some(name))
      .join(idsDf, Seq("id"), "left_semi")
      .groupBy("id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).cast("long"), sum("dl").cast("long"))
      .collect()(0)
    val (n, s) =
      if (r.isNullAt(1)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    if (n > 0) new OrderedDataset(spark, dir)
      .transformKvWait(KvBumpWaitMs) { kv2 =>
        require(kv2.contains(NDocsKey) && kv2.contains(SumDlKey),
          scalarRemedy(dir))
        kv2 + (NDocsKey -> (kv2(NDocsKey).toLong - n).toString) +
          (SumDlKey -> (kv2(SumDlKey).toLong - s).toString)
      }
  }

  /** Recompute the kv scalars from the postings themselves (one full
    * union scan over base + segments — the repair path for a crash
    * between an add's segment commit and its kv bump). */
  def recountStats(spark: SparkSession, dir: String): (Long, Long) = {
    val parts = DedupIndex.partsFor(spark, dir, Kind, None)
    // duplicate (term, id) rows across segments (out-of-contract
    // re-adds) do not skew the recount: max(dl) per id and the doc
    // count are multiplicity-free
    val r = IndexSegments.unionDf(parts)
      .groupBy("id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).cast("long"), sum("dl").cast("long"))
      .collect()(0)
    val (n, s) = (r.getLong(0), r.getLong(1))
    parts.head.ds.updateKv(
      Map(NDocsKey -> n.toString, SumDlKey -> s.toString))
    (n, s)
  }

  /** Top-k BM25 through the index: hash the query vocabulary to
    * points, zone-map-prune the postings read (union of base + live
    * segments), score identically to the brute path. `maxDriverKeys`
    * bounds the driver collect the same way [[DedupIndex]] probes do
    * (a query set is tiny by construction; the guard is for misuse).
    */
  def topK(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      k1: Double = RetrievalOps.K1, b: Double = RetrievalOps.B,
      maxDriverKeys: Int = DedupIndex.MaxDriverKeys): DataFrame =
    topK(DedupIndex.partsFor(spark, dir, Kind, None), queries, k, k1, b,
      maxDriverKeys)

  /** [[topK]] against a generation-pinned capture
    * ([[DedupIndex.pinIndex]]): postings AND the corpus scalars both
    * come from the captured base sidecar, so every probe of one pin
    * scores against one index version. */
  def topK(parts: Seq[IndexSegments.Part], queries: DataFrame, k: Int,
      k1: Double, b: Double, maxDriverKeys: Int): DataFrame = {
    val dir = parts.head.ds.dir
    DedupIndex.requireCfgKv(dir, parts.head.m.kv, Kind, None)
    val kv = parts.head.m.kv
    // name the remedy, don't NoSuchElement: scalars can be absent
    // after a crash between an add's segment commit and its kv bump
    require(kv.contains(NDocsKey) && kv.contains(SumDlKey),
      scalarRemedy(dir))
    val qterms = queries
      .select(explode(array_distinct(split(col("q_text"), " ")))
        .as("term"))
      .select(DedupIndex.hkey60(md5(col("term"))).as("hkey"))
    // (term, id) dedup across segments keeps the one-posting-per-pair
    // contract under out-of-contract re-adds (arbitrary survivor — the
    // old upsert's keep-last was equally arbitrary across writers)
    val pruned = IndexSegments.scanForProbes(parts, qterms, maxDriverKeys,
        dedupCols = Seq("term", "id"))
      .select("id", "term", "tf", "dl")
    val stats = queries.sparkSession.range(1).select(
      lit(kv(NDocsKey).toLong).as("n_docs"),
      lit(kv(SumDlKey).toLong).as("sum_dl"))
    RetrievalOps.scoreTermTable(pruned, stats, queries, k, k1, b)
  }
}
