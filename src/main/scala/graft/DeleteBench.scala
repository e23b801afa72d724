package graft

import graft.store._

/** Scratch experiment main (not part of the driver contract): prove
  * range-delete cost is O(churn), not O(corpus) — the round-9 verdict
  * asked for the same direct cross-scale measurement the read path got
  * (`rangeDFAcross` constant at 0.17–0.24 s across scales). Builds a
  * fresh ordered dataset from the scale dir's events, then deletes a
  * FIXED absolute 10-day interior window: the driver's scale replicas
  * extend the TIME AXIS, so the window holds the same rows — hence
  * the same covered/boundary-file churn — at every scale, while the
  * corpus behind it grows 100×. Files fully inside the range drop by
  * a sidecar-only commit; only the ≤2 boundary files rewrite.
  * Prints one JSON line per step (min-of-reps on the read-back; the
  * delete itself is once-only by nature — a second run has nothing to
  * delete, which is ALSO printed as the no-op row).
  */
object DeleteBench {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    val base = s"/tmp/graft_deletebench_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
    LocalFs.rmTree(new java.io.File(base))
    try {
      val ds = new OrderedDataset(spark, base)
      val e = Tables.events(spark, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val n = e.count()

      def timed[T](label: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        // Locale.ROOT: the f-interpolator follows the JVM default
        // locale, and a comma-decimal locale would render invalid JSON
        val sec = String.format(java.util.Locale.ROOT, "%.3f",
          Double.box((System.nanoTime() - t0) / 1e9))
        println(s"""{"step":"$label","sec":$sec}""")
        r
      }
      timed(s"write_${n}_rows") {
        ds.write(e, WriteOpts("ts", NRows(20000)))
      }
      def micros(day: Int) = java.time.LocalDateTime.of(2024, 1, day, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      val lo = OrdTs(micros(10)); val hi = OrdTs(micros(20))
      val files0 = ds.meta.files.size
      val rep = timed("delete_10day_fixed_window") {
        ds.delete(Some(lo), Some(hi))
      }
      println(s"""{"filesBefore":$files0,"report":"$rep"}""")
      // churn-free repeat: zero files touched, near-zero cost — the
      // O(churn) claim's other endpoint
      timed("delete_10day_noop_repeat") {
        ds.delete(Some(lo), Some(hi))
      }
      println(s"""{"rows_after":${ds.df.count()},"files_after":${
        ds.meta.files.size}}""")
    } finally {
      LocalFs.rmTree(new java.io.File(base))
      spark.stop()
    }
  }
}
