package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.graftbridge.SparkInternals
import graft.pipeline.{DedupIndex, DedupOps}
import graft.store.{NRows, OrderedDataset, WriteOpts}

/** Continuous exact deduplication of a document firehose against a
  * persistent corpus — the ingest shape of a 100 TB training-data
  * pipeline: documents arrive continuously (crawl frontier, upload
  * queue), and each micro-batch must be deduplicated against
  * EVERYTHING already accepted without rescanning the corpus.
  *
  * Structured Streaming supplies the loop (source offsets + checkpoint
  * = restartable exactly-once batch boundaries); the store supplies the
  * memory: the accepted corpus and its digest index
  * ([[DedupIndex.buildDigest]]) are `OrderedDataset`s, so the
  * per-batch probe is a zone-map point read ∝ batch size, independent
  * of corpus size (the flat-probe-cost economics measured in SCALE.md).
  *
  * Per micro-batch ([[dedupBatch]]):
  *  1. intra-batch keep-first — min id per content digest (value-based,
  *     so the result is invariant to partitioning and replay);
  *  2. cross-batch — probe the digest index, anti-join the hits;
  *  3. append survivors to the corpus dataset, keep-last on digest;
  *  4. upsert survivors' digests into the index.
  *
  * Failure atomicity: steps 3 and 4 are separate commits, so a crash
  * between them replays the batch with the corpus written but the
  * index not yet extended. The replay is harmless end-to-end: the
  * probe (step 2) misses, but the corpus upsert's keep-last on digest
  * collapses the re-written rows onto the identical originals, and the
  * index upsert is itself keep-last — both layers are idempotent under
  * at-least-once delivery, which is exactly the contract foreachBatch
  * gives (the same two-layer design as [[StreamingAgg]]'s
  * checkpoint + keep-last upsert).
  *
  * Semantics note: "first" is min-id-per-digest, not arrival order.
  * When the stream's batch order is correlated with ids (a crawl log
  * replayed in order), the two coincide and the whole run is
  * equivalent to one batch dedup — which is what makes the result
  * exactly SQL-expressible (the `t13_streaming_dedup` oracle).
  */
object StreamingDedup {

  /** Start the streaming dedup. `docStream` must carry `idCol`
    * (castable to long, unique per arriving doc) and `textCol`.
    * Everything else in the frame is carried into the corpus.
    */
  def run(docStream: DataFrame, idCol: String, textCol: String,
      corpusDir: String, indexDir: String, ckptDir: String,
      rowsPerFile: Long = 1000000L,
      contamIndexDir: Option[String] = None,
      contamN: Int = 5,
      segIndexDir: Option[String] = None,
      segWords: Int = 10, segDfMin: Long = 2L,
      blockIndexDir: Option[String] = None): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(batch.sparkSession, batch, idCol, textCol,
          corpusDir, indexDir, rowsPerFile, contamIndexDir, contamN,
          segIndexDir, segWords, segDfMin,
          segIncrementTag = Some(batchId.toString),
          blockIndexDir = blockIndexDir): Unit
      }
      .start()

  /** Digest stored for null-text documents: all-zeros is not a
    * realistic md5 preimage, so null texts form one dedup group — the
    * same grouping SQL `GROUP BY md5(text)` gives them (NULL groups
    * together), which a null digest would NOT give in the store's
    * dedup window or the index's equality probe.
    */
  val NullDigest: String = "0" * 32

  /** Fold the ingest's index delta segments back into their base runs
    * once this many accumulate (one segment lands per micro-batch):
    * probe read amplification stays ≤ this, and the O(index) fold is
    * paid once per this-many O(increment) batches. */
  val MaxIngestSegments = 8

  /** One dedup round (also the batch-incremental entry — a nightly
    * ingest can call this directly per increment). Returns the number
    * of rows accepted into the corpus.
    *
    * Crash contract for the DIRECT batch entry: if the process dies
    * between the corpus commit and the index commit, the caller must
    * re-run the SAME increment (at-least-once with identical content —
    * what foreachBatch replay provides automatically); both commits
    * are keep-last-idempotent under that replay. Moving on to the NEXT
    * increment without replaying would let a later same-digest doc
    * slip past the not-yet-extended index and replace the stored
    * original.
    *
    * With `contamIndexDir` set, each batch is ALSO decontaminated
    * in-stream: documents sharing any word `contamN`-gram with the
    * persisted eval index ([[graft.pipeline.ContaminationOps
    * .buildIndex]]) are rejected before the corpus commit — the probe
    * is Bloom-prefiltered and costs ∝ batch, so benchmark leakage is
    * caught at the door instead of by a later corpus-wide sweep.
    * Rejection is deterministic in content, so batch replay stays
    * idempotent.
    *
    * With `segIndexDir` set, accepted documents are additionally
    * BOILERPLATE-STRIPPED in-stream: segments whose document frequency
    * across the accepted corpus (plus this batch) reaches `segDfMin`
    * are removed before the corpus commit, and the persisted
    * segment-frequency index is extended with the stripped survivors
    * (replay-protected by `segIncrementTag` — the foreachBatch epoch
    * id). The corpus dedup key stays the ORIGINAL text's digest, so a
    * replay whose strip verdict differs (the index advanced in
    * between) still collapses onto the same row, keep-last picking the
    * later rewrite.
    *
    * With `blockIndexDir` set, each batch is ALSO screened against a
    * persisted BLOCKLIST — a digest index
    * ([[DedupIndex.buildDigest]]) over recalled/banned content. This
    * is the ingest-side twin of [[DedupIndex.removeDocs]]: a takedown
    * removes content from the corpus and its indexes, and the
    * blocklist keeps RE-ARRIVALS of that content out (without it, a
    * re-crawl of a recalled document would re-enter as "new" — the
    * digest dedup index no longer knows it). Matching is by content
    * digest, so it is deterministic and replay-idempotent; null-text
    * documents are never blocked (the blocklist cannot hold a null
    * digest). Grow the blocklist with buildDigest over each new
    * recall batch — O(recall) delta segments, like every index here.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, corpusDir: String, indexDir: String,
      rowsPerFile: Long = 1000000L,
      contamIndexDir: Option[String] = None,
      contamN: Int = 5,
      segIndexDir: Option[String] = None,
      segWords: Int = 10, segDfMin: Long = 2L,
      segIncrementTag: Option[String] = None,
      blockIndexDir: Option[String] = None): Long = {
    val reserved = Set("digest", "hkey", "__rn", "__digest",
      "clean_text", "__sid")
    require(!batch.columns.exists(reserved),
      s"batch must not carry reserved columns ${reserved.mkString("/")}")
    // 1. intra-batch keep-first (min id per digest; null texts form one
    // group). Window over the digest key: shuffles only this batch,
    // never the corpus. The digest rides along — no second md5 pass.
    val firsts = DedupOps
      .exactDedup(batch, textCol, idCol, digestOut = Some("digest"))
      .withColumn("digest", coalesce(col("digest"), lit(NullDigest)))
    // 2. cross-batch: drop docs whose digest the corpus already holds.
    // Probe cost ∝ batch (zone-map point reads; see DedupIndex docs).
    val idx = new OrderedDataset(spark, indexDir)
    val fresh0 =
      if (idx.exists) {
        val hits = DedupIndex
          .probeDigestKeyed(spark, indexDir,
            firsts.select(col(idCol).cast("long").as("new_id"),
              col("digest")))
          .select(col("new_id").as("__dup_id")).distinct()
        firsts.join(hits, firsts(idCol) === col("__dup_id"), "left_anti")
      } else firsts
    // 2a. optional BLOCKLIST screen: exact-content matches against the
    // persisted recalled/banned digest index are rejected at the door
    // (cheapest first — a digest probe, before any shingling)
    val unblocked = blockIndexDir match {
      case Some(bd) =>
        val blocked = DedupIndex.probeDigestKeyed(spark, bd,
            fresh0.select(col(idCol).cast("long").as("new_id"),
              col("digest")))
          .select(col("new_id").as("__blocked_id")).distinct()
        fresh0.join(blocked, fresh0(idCol) === col("__blocked_id"),
          "left_anti")
      case None => fresh0
    }
    // 2b. optional in-stream decontamination against the persisted
    // eval-gram index (any shared n-gram rejects the document)
    val clean0 = contamIndexDir match {
      case Some(cd) =>
        val dirty = graft.pipeline.ContaminationOps
          .probeIndex(spark, cd, unblocked, idCol, textCol, contamN)
          .select(col("id").as("__contam_id")).distinct()
        unblocked.join(dirty, unblocked(idCol) === col("__contam_id"),
          "left_anti")
      case None => unblocked
    }
    // One materialization, multiple consumers (strip probe + corpus
    // write + both index writes): without this the digest/probe
    // lineage would run once per consumer. `fresh` carries the
    // ORIGINAL text — the dedup digest and the segment frequencies
    // must describe what ARRIVED (indexing stripped text would erase
    // the boilerplate knowledge the next batch needs).
    val fresh = clean0
      .withColumn("hkey", DedupIndex.hkey60(col("digest")))
      .localCheckpoint()
    try {
      val accepted = fresh.count()
      if (accepted > 0) {
        // 2c. optional in-stream boilerplate stripping: the CORPUS
        // stores the rewritten text, while the digest (computed from
        // the original above) stays the dedup key — a replay whose
        // strip verdict differs (the index advanced in between) still
        // collapses onto the same row, keep-last picking the later
        // rewrite.
        val toStore = segIndexDir match {
          case Some(sd) =>
            // replay detection: if the seg index already holds this
            // increment, exclude the batch's own contribution from the
            // verdict (it is IN the index) — the rewrite then equals
            // the first attempt's bit-for-bit
            // stamps live per delta segment since r12 (plus the base's
            // folded-tag history) — hasTag checks all of them
            val isReplay = segIncrementTag.exists(
              graft.pipeline.IndexSegments.hasTag(spark, sd, _))
            val rewritten = DedupIndex.dedupBatchSegments(spark, sd,
                fresh, idCol, textCol, segWords, segDfMin,
                textOut = true, includeBatchDf = !isReplay)
              .select(col(idCol).as("__sid"), col("clean_text"))
            // left join + coalesce: a doc with EMPTY/null text has a
            // null clean_text — it keeps its original text
            fresh.join(rewritten, col(idCol) === col("__sid"), "left")
              .withColumn(textCol,
                coalesce(col("clean_text"), col(textCol)))
              .drop("__sid", "clean_text")
          case None => fresh
        }
        // 3. corpus append — ordered on hkey so the corpus itself is
        // content-addressed (digest-range reads prune files), keep-last
        // on digest for replay idempotence.
        new OrderedDataset(spark, corpusDir).write(toStore,
          WriteOpts("hkey", NRows(rowsPerFile),
            duplicatesOn = Some(Seq("digest"))))
        // 4. index upsert (idempotent keep-last) — reuses the digests
        // already materialized in `fresh`
        DedupIndex.upsertDigestRows(spark, indexDir,
          fresh.select(col("digest"), col(idCol).cast("long").as("id")),
          rowsPerFile)
        // 5. extend the segment-frequency index with the ARRIVED
        // content; the increment tag makes foreachBatch replays a no-op
        segIndexDir.foreach { sd =>
          DedupIndex.buildSegments(spark, sd, fresh, idCol, textCol,
            segWords, rowsPerFile, segIncrementTag)
        }
        // 6. bound the LSM read amplification: every micro-batch adds
        // one delta segment per index, so a long-running stream folds
        // them back every MaxIngestSegments batches (probe results are
        // identical before/after a fold — IndexCompactionSpec)
        DedupIndex.compactIndexIfNeeded(spark, indexDir,
          MaxIngestSegments): Unit
        segIndexDir.foreach(sd =>
          DedupIndex.compactIndexIfNeeded(spark, sd,
            MaxIngestSegments): Unit)
      }
      accepted
    } finally SparkInternals.unpersistCheckpoint(fresh)
  }
}
