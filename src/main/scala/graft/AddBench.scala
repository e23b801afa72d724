package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Bm25Index, DedupIndex, IndexSegments}

/** Incremental-index ADD COST (VERDICT r11 #1's "Done" criterion):
  * measure the wall cost of adding a small increment to a large
  * store-backed index through the delta-segment path, on a fixed
  * corpus split (99% indexed, 1% added), plus the folds that amortize
  * it. The claim under test: segment adds are ∝ increment (SCALE.md
  * Round-12a records the in-place baseline it was measured against).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.AddBench
  * Emits one JSON line; SPARK_GRAFT_BENCH_OUT redirects the record.
  */
object AddBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    Tables.configure(spark)
    val root = s"/tmp/graft_addbench_${System.currentTimeMillis()}"
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
        .persist()
      val corpus = docs.filter(col("doc_id") % 100 =!= 0)
      // SPARK_GRAFT_ADD_BATCH_DIR: take the increment from a DIFFERENT
      // (smaller) scale dir — the fixed-daily-batch series: increment
      // size constant while the indexed corpus grows 1x/10x/100x, so the
      // segment add's claimed flatness is measured, not extrapolated.
      // Batch ids shift past every corpus id (disjoint by contract).
      val batch = sys.env.get("SPARK_GRAFT_ADD_BATCH_DIR") match {
        case Some(bd) => Tables.documents(spark, bd)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
          .filter(col("doc_id") % 100 === 0)
        case None => docs.filter(col("doc_id") % 100 === 0)
      }
      val nCorpus = corpus.count(); val nBatch = batch.count()
      // postings rowsPerFile sized like the fixture (≈10+ files)
      val rpf = math.max(2000L, nCorpus * 4L / 10L)
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }

      // ---- segment adds: bm25 postings, then a digest index ----
      val bmSeg = s"$root/bm25_seg"
      Bm25Index.build(spark, bmSeg, corpus, "doc_id", "text", rpf)
      val tBmSeg = timed(Bm25Index.add(spark, bmSeg, batch,
        "doc_id", "text", rpf))
      val dgSeg = s"$root/dg_seg"
      val dgRpf = math.max(2000L, nCorpus / 10L)
      DedupIndex.buildDigest(spark, dgSeg, corpus, "doc_id", "text", dgRpf)
      val tDgSeg = timed(DedupIndex.buildDigest(spark, dgSeg, batch,
        "doc_id", "text", dgRpf))

      // ---- and the amortized fold, for the record ----
      val tCompact = timed(DedupIndex.compactIndex(spark, bmSeg): Unit)
      val segsAfter = IndexSegments.liveParts(spark, bmSeg).size - 1

      // ---- auto-compact amortization (r13 maxSegments opt-in): K
      // sequential fixed-size adds with the read-amplification bound at
      // 4 — total wall = K O(increment) adds + the folds the bound
      // forced; per-add amortized cost is the honest steady-state number
      // next to the single unbounded segment add above ----
      val K = 8
      val dgAuto = s"$root/dg_auto"
      DedupIndex.buildDigest(spark, dgAuto, corpus, "doc_id", "text", dgRpf)
      val autoBatches = (0 until K).map(i => batch.select(
        (col("doc_id") + lit(i.toLong * 2000000000L)).as("doc_id"),
        col("text")))
      val tAuto = timed(autoBatches.foreach(b =>
        DedupIndex.buildDigest(spark, dgAuto, b, "doc_id", "text", dgRpf,
          maxSegments = Some(4))))
      val autoSegsLive = IndexSegments.liveParts(spark, dgAuto).size - 1

      // ---- count-index fold: the single-read replaceAll fold of a
      // span-gram index (base = corpus grams, one 1%-batch segment) ----
      val spDir = s"$root/sp_new"
      val spRpf = math.max(4000L, nCorpus * 8L)
      DedupIndex.buildSpanGrams(spark, spDir, corpus, "doc_id", "text",
        k = 8, rowsPerFile = spRpf)
      DedupIndex.buildSpanGrams(spark, spDir, batch, "doc_id", "text",
        k = 8, rowsPerFile = spRpf)
      val tFold = timed(DedupIndex.compactIndex(spark, spDir): Unit)

      def fmt(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val line = s"""{"metric":"add_cost_ab","unit":"sec",""" +
        s""""cpus":${LocalSession.cpus},""" +
        s""""corpus_docs":$nCorpus,"batch_docs":$nBatch,""" +
        s""""bm25_add_segment":${fmt(tBmSeg)},""" +
        s""""digest_add_segment":${fmt(tDgSeg)},""" +
        s""""bm25_compact":${fmt(tCompact)},""" +
        s""""segments_after_compact":$segsAfter,""" +
        s""""digest_auto_adds":$K,""" +
        s""""digest_auto_total":${fmt(tAuto)},""" +
        s""""digest_auto_per_add":${fmt(tAuto / K)},""" +
        s""""digest_auto_live_segments":$autoSegsLive,""" +
        s""""spans_fold_single_read":${fmt(tFold)},"sf":"$sfDir"}"""
      println(line)
      sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          line + "\n"): Unit
      }
    } finally {
      LocalFs.rmTree(new java.io.File(root))
      spark.stop()
    }
  }
}
