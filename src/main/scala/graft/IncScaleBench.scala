package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{DedupIndex, DedupOps}

/** Incremental-dedup economics experiment (SCALE.md): a FIXED-SIZE
  * batch probed against a GROWING indexed corpus, vs the no-index
  * alternative (recompute minhash over corpus ∪ batch each time).
  * The claim under test: probe cost is bounded by the increment and
  * the slim index, not by corpus text volume — the property that makes
  * daily dedup of a 100 TB corpus affordable.
  *
  * Usage: runMain graft.IncScaleBench <corpusSfDir> <batchSfDir>
  * The batch is always derived from `batchSfDir` (so it stays constant
  * while `corpusSfDir` scales), perturbed the same way as query
  * p_dedup_inc_lsh. Prints one JSON line.
  */
object IncScaleBench {
  private val NumHashes = 12
  private val Bands = 4
  private val Threshold = 0.8
  /** Batch doc_ids are shifted past every corpus id; the seg-full
    * baseline filter must use the SAME offset to select batch docs. */
  private val BatchIdOffset = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(corpusDir, batchDir) = args.take(2)
    val spark = LocalSession()
    val tag = corpusDir.replaceAll("[^a-zA-Z0-9]", "_")
    val idxDir = s"/tmp/graft_incscale_idx_$tag"
    val simDir = s"/tmp/graft_incscale_sim_$tag"
    val segDir = s"/tmp/graft_incscale_seg_$tag"
    try {
      def docs(d: String) = Tables.documents(spark, d)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
      val corpus = docs(corpusDir)
      val batch = docs(batchDir).filter(col("doc_id") % 8 === 7)
        .select((col("doc_id") + BatchIdOffset).as("doc_id"),
          concat(col("text"), lit(" zq zq zq")).as("text"))

      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def minOf(reps: Int)(f: => Unit): Double =
        (1 to reps).map(_ => timed(f)).min

      // one-time index build over the corpus (the amortized cost)
      new graft.store.OrderedDataset(spark, idxDir).removeFromDisk()
      val tBuild = timed {
        DedupIndex.buildMinhash(spark, idxDir, corpus, "doc_id", "text",
          shingleN = 3, numHashes = NumHashes, bands = Bands,
          rowsPerFile = 8000)
      }

      // per-increment probe (what a daily run pays)
      val tProbe = minOf(3) {
        DedupIndex.probeMinhash(spark, idxDir, batch, corpus,
          "doc_id", "text", shingleN = 3, numHashes = NumHashes,
          bands = Bands, threshold = Threshold)
          .write.mode("overwrite").format("noop").save()
      }

      // The no-index alternative, constructed FAIRLY: corpus and batch
      // are banded separately and candidates come from the cross-side
      // band join only — a competent day-2 run without an index would
      // never generate corpus × corpus pairs, so charging the baseline
      // for them would overstate the index's advantage. The baseline's
      // honest cost is recomputing corpus signatures (map-side, linear)
      // plus the cross band join.
      val tFull = minOf(3) {
        val cB = DedupIndex.bandedRows(corpus, "doc_id", "text", 3,
          NumHashes, Bands)
        val bB = DedupIndex.bandedRows(batch, "doc_id", "text", 3,
          NumHashes, Bands)
          .select(col("band_id").as("bband_id"), col("sig").as("bsig"),
            col("id").as("bid"))
        val cand = cB.join(bB, col("band_id") === col("bband_id") &&
            col("sig") === col("bsig"))
          .select(col("id").as("i"), col("bid").as("j")).distinct()
        val sh = DedupOps.shingleArrays(corpus, "doc_id", "text", 3)
          .unionByName(DedupOps.shingleArrays(batch, "doc_id", "text", 3))
        DedupOps.jaccardVerify(cand, sh, Threshold)
          .write.mode("overwrite").format("noop").save()
      }

      // same economics for the simhash family: two-level index probe vs
      // recomputing fingerprints + doc-level banding over corpus ∪ batch
      new graft.store.OrderedDataset(spark, s"$simDir/bands").removeFromDisk()
      new graft.store.OrderedDataset(spark, s"$simDir/members").removeFromDisk()
      val tSimBuild = timed {
        DedupIndex.buildSimhash(spark, simDir, corpus, "doc_id", "text",
          rowsPerFile = 100000)
      }
      val tSimProbe = minOf(3) {
        DedupIndex.probeSimhash(spark, simDir, batch, "doc_id", "text",
          maxDist = 3)
          .write.mode("overwrite").format("noop").save()
      }
      // fair baseline (see tFull): fingerprints per side, DISTINCT
      // fingerprints band-pair-joined cross-side only, members expanded
      val tSimFull = minOf(3) {
        val cs = DedupOps.simhash(corpus, "doc_id", "text")
        val bs = DedupOps.simhash(batch, "doc_id", "text")
          .select(col("id").as("j"), col("simhash").as("bfp"))
        val cB = DedupIndex.simhashWithBands(
          cs.select(col("simhash")).distinct(), "simhash")
        val bB = DedupIndex.simhashWithBands(
          bs.select(col("bfp")).distinct(), "bfp")
        val fp = cB.join(bB, Seq("hkey"))
          .select(col("simhash"), col("bfp")).distinct()
          .filter(bit_count(col("simhash").bitwiseXOR(col("bfp"))) <= 3)
        fp.join(cs, Seq("simhash")).join(bs, Seq("bfp"))
          .select(col("id").as("i"), col("j"),
            bit_count(col("simhash").bitwiseXOR(col("bfp")))
              .cast("int").as("dist"))
          .write.mode("overwrite").format("noop").save()
      }

      // segment-dedup economics: batch rewrite against the persisted
      // frequency index vs recomputing segmentDedup over corpus ∪ batch
      // (restricted to the batch's docs — the fair no-index day-2 run)
      new graft.store.OrderedDataset(spark, segDir).removeFromDisk()
      val tSegBuild = timed {
        DedupIndex.buildSegments(spark, segDir, corpus, "doc_id", "text",
          segWords = 10, rowsPerFile = 100000)
      }
      val tSegProbe = minOf(3) {
        DedupIndex.dedupBatchSegments(spark, segDir, batch,
          "doc_id", "text", segWords = 10, dfMin = 2L)
          .write.mode("overwrite").format("noop").save()
      }
      val tSegFull = minOf(3) {
        DedupOps.segmentDedup(corpus.unionByName(batch), "doc_id", "text",
          segWords = 10, dfMin = 2L)
          .filter(col("doc_id") >= BatchIdOffset)
          .write.mode("overwrite").format("noop").save()
      }

      val nCorpus = corpus.count(); val nBatch = batch.count()
      println(s"""{"corpus":$nCorpus,"batch":$nBatch,""" +
        s""""build_s":$tBuild,"probe_s":$tProbe,"full_s":$tFull,""" +
        s""""sim_build_s":$tSimBuild,"sim_probe_s":$tSimProbe,""" +
        s""""sim_full_s":$tSimFull,"seg_build_s":$tSegBuild,""" +
        s""""seg_probe_s":$tSegProbe,"seg_full_s":$tSegFull}""")
    } finally {
      Seq(idxDir, simDir, segDir).foreach(p =>
        LocalFs.rmTree(new java.io.File(p)))
      spark.stop()
    }
  }
}
