package graft

import org.apache.spark.sql.functions._
import graft.store._

/** Scratch experiment main (not part of the driver contract): prove
  * the sharded-family APPEND path costs ∝ batch, not corpus. Builds a
  * fresh 4-key family from the scale dir's events (NOT the m12
  * fixture — that one backs an oracle and must stay byte-stable),
  * then times `Store.appendSharded` for a small batch and a pruned
  * `rangeDFAcross` read-back. Prints one JSON line per step.
  */
object ShardAppendBench {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchRows = sys.env.getOrElse("SHARD_APPEND_ROWS", "10000").toLong
    val spark = LocalSession()
    implicit val ord: Ordering[String] = Ordering.String
    val idx = Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
      if (l.head.size == 1) Some(l.head.head) else None)
    val base = s"/tmp/graft_shard_appendbench_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
    LocalFs.rmTree(new java.io.File(base))
    try {
      val st = new Store(spark, base, idx)
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
      val ks = timed(s"shardedWrite_${n}_rows") {
        st.shardedWrite(e, WriteOpts("ts", NRows(20000)), i => s"shard$i",
          targetRowsPerShard = math.max(1L, math.ceil(n / 4.0).toLong))
      }
      // append: a small late batch (events shifted past the corpus max —
      // routes entirely to the open-ended last shard) plus an interior
      // slice re-append (upserts across every shard)
      val late = e.orderBy(col("ts").desc).limit(batchRows.toInt)
        .withColumn("ts", col("ts") + expr("INTERVAL 400 DAYS"))
      timed(s"appendSharded_${batchRows}_late") {
        st.appendSharded(late, WriteOpts("ts", NRows(20000)), ks)
      }
      val interior = e.limit(batchRows.toInt)
        .withColumn("value", col("value") + 1.0)
      timed(s"appendSharded_${batchRows}_interior") {
        st.appendSharded(interior, WriteOpts("ts", NRows(20000),
          duplicatesOn = Some(Seq("ts"))), ks)
      }
      timed("rangeDFAcross_10day") {
        val lo = OrdTs(java.time.LocalDateTime.of(2024, 1, 10, 0, 0)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
        val hi = OrdTs(java.time.LocalDateTime.of(2024, 1, 20, 0, 0)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
        println(s"rows=${st.rangeDFAcross(ks, Some(lo), Some(hi)).count()}")
      }
      println(s"""{"total_rows":${st.rangeDFAcross(ks).count()}}""")
    } finally {
      LocalFs.rmTree(new java.io.File(base))
      spark.stop()
    }
  }
}
