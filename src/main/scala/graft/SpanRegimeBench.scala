package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{DedupIndex, DedupOps}

/** Span-gram index economics IN ITS STATED REGIME (VERDICT r11 #4):
  * the r11f fixture could only stage a 4:1 corpus:batch ratio, where
  * the index barely wins; the index's scaladoc claims the daily-crawl
  * shape (~100:1) is where it pays. This bench stages exactly that at
  * any SF: index the doc_id % 100 != 0 split (99%), then strip the 1%
  * batch two ways —
  *
  *  - `inc`: [[DedupIndex.dedupBatchSpans]] against the index (probe
  *    cost ∝ batch grams when under the driver cap, full-index
  *    equi-join otherwise — the bench reports which path engaged);
  *  - `recompute`: [[DedupOps.spanDedup]] over corpus ∪ batch (the
  *    no-index alternative re-tokenizes and re-hashes ALL corpus
  *    text), restricted to batch docs.
  *
  * Both are min-of-`SPARK_GRAFT_REPS` (default 2) after a warm pass of
  * the scan path. Build time is reported separately — it is the
  * amortized one-time cost the increments share.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.SpanRegimeBench
  */
object SpanRegimeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = LocalSession()
    Tables.configure(spark)
    val dir = s"/tmp/graft_spanregime_${System.currentTimeMillis()}"
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 100 =!= 0)
      val batch = docs.filter(col("doc_id") % 100 === 0)
      val nCorpus = corpus.count(); val nBatch = batch.count()
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def med(ts: Seq[Double]): Double = ts.min

      val tBuild = timed(DedupIndex.buildSpanGrams(spark, dir, corpus,
        "doc_id", "text", k = 8, rowsPerFile = math.max(4000L, nCorpus * 8L)))
      // warm the scan paths once each, then min-of-reps
      noop(DedupIndex.dedupBatchSpans(spark, dir, batch, "doc_id", "text", 8))
      // probe I/O telemetry captured at PLAN time (r13: the over-cap
      // path is the zone-pruned mid tier — record tier + files opened
      // so the fraction-of-index claim is a field, not prose)
      val probeStats = Option(
        graft.pipeline.IndexSegments.lastProbeStats.get())
      val tInc = med((1 to reps).map(_ => timed(noop(
        DedupIndex.dedupBatchSpans(spark, dir, batch, "doc_id", "text", 8)))))
      val full = () => DedupOps
        .spanDedup(docs, "doc_id", "text", 8)
        .filter(col("doc_id") % 100 === 0)
      noop(full())
      val tFull = med((1 to reps).map(_ => timed(noop(full()))))
      // which probe path engaged: distinct batch grams vs the cap
      val probeGrams = batch
        .select(explode(graft.pipeline.TextOps.wsTokens(col("text")))
          .as("w")).count() // upper bound; the real probe distincts hashes
      def fmt(v: Double): String = // Locale.ROOT: comma-decimal JVMs
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val probeJson = probeStats.map(s =>
        s""""probe_tier":"${s.tier}","files_total":${s.filesTotal},""" +
          s""""files_opened":${s.filesOpened},""").getOrElse("")
      val line = s"""{"metric":"span_regime","unit":"sec",""" +
        s""""cpus":${LocalSession.cpus},""" +
        s""""corpus_docs":$nCorpus,"batch_docs":$nBatch,""" +
        s""""ratio":${nCorpus / math.max(1L, nBatch)},""" +
        s""""build":${fmt(tBuild)},"inc":${fmt(tInc)},""" +
        s""""recompute":${fmt(tFull)},$probeJson""" +
        s""""batch_gram_upper":$probeGrams,"sf":"$sfDir"}"""
      println(line)
      sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          line + "\n"): Unit
      }
    } finally {
      LocalFs.rmTree(new java.io.File(dir))
      spark.stop()
    }
  }
}
