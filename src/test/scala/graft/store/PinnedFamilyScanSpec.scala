package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Family-scan snapshot consistency (VERDICT r11 #5): cross-shard
  * reads capture every shard's sidecar up front and build every
  * per-shard plan from the CAPTURED snapshots, so a writer landing
  * between two shard plan builds cannot tear the cut — the scan
  * returns the pre-append rows for every shard.
  */
class PinnedFamilyScanSpec extends SparkSpec {
  import spark.implicits._

  private val idx: Indexer[String] =
    Indexer.of[String](1)(k => Seq(Seq(k)))(l =>
      if (l.head.length == 1) Some(l.head.head) else None)

  private def newStore(): Store[String] =
    new Store(spark, s"${tmpDir("pinstore")}/st", idx)

  private def evDf(n: Int): DataFrame =
    spark.range(n.toLong).toDF("t").withColumn("v", col("t") * 1.5)

  test("rangeDFAcross returns the pre-append snapshot for every shard " +
      "when an append interleaves the per-shard plan builds") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(6000), WriteOpts("t", NRows(1000)),
      i => s"shard$i", targetRowsPerShard = 3000L)
    assert(ks.size == 2)
    // the appended rows land INSIDE shard 1's recorded range (its lo +
    // offsets), so a torn scan would see them
    val lo1 = st.get(ks(1)).meta.kv("graft.shard.lo").toLong
    val invocations = new java.util.concurrent.atomic.AtomicInteger(0)
    st.betweenPinnedScans = () => {
      if (invocations.incrementAndGet() == 1) {
        // fires after ALL sidecars are captured, before shard0's plan
        // builds: a writer lands 50 new rows in shard1 right now
        st.get(ks(1)).write(
          (0 until 50).map(i => (lo1 + i, -1.0)).toDF("t", "v"),
          WriteOpts("t", NRows(1000))): Unit
      }
    }
    try {
      val scan = st.rangeDFAcross(ks)
      assert(invocations.get() == 2, "seam should fire once per shard")
      // the captured cut: exactly the original 6000 rows, none of the
      // concurrently appended ones (v = -1 marks them)
      assert(scan.count() == 6000L)
      assert(scan.filter(col("v") === -1.0).count() == 0L)
      // and the appended rows ARE there for a fresh scan
      val fresh = st.rangeDFAcross(ks)
      assert(fresh.count() == 6050L)
    } finally st.betweenPinnedScans = () => ()
  }

  test("multiPointDFOf over captured snapshots serves the pre-append " +
      "rows when an append lands after the capture") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(6000), WriteOpts("t", NRows(1000)),
      i => s"shard$i", targetRowsPerShard = 3000L)
    val lo1 = st.get(ks(1)).meta.kv("graft.shard.lo").toLong
    val points = (0 until 50).map(i => OrdLong(lo1 + i))
    // capture every shard's sidecar, and build one read before the
    // append
    val captured = ks.map(k => st.get(k) -> st.get(k).meta)
    val before = captured.map { case (d, m) => d.multiPointDFOf(m, points) }
    // a writer lands 50 rows on exactly those points in shard 1,
    // rewriting the files that cover them
    st.get(ks(1)).write(
      (0 until 50).map(i => (lo1 + i, -1.0)).toDF("t", "v"),
      WriteOpts("t", NRows(1000))): Unit
    val after = captured.map { case (d, m) => d.multiPointDFOf(m, points) }
    val pts = points.map(_.v)
    for (reads <- Seq(before, after)) {
      val rows = reads.map(_.where(col("t").isin(pts: _*))).reduce(_ union _)
      assert(rows.count() == 50L)
      assert(rows.filter(col("v") === -1.0).count() == 0L)
    }
    // a fresh read sees the appended rows
    val fresh = st.get(ks(1)).multiPointDF(points)
      .where(col("t").isin(pts: _*))
    assert(fresh.count() == 100L)
    assert(fresh.filter(col("v") === -1.0).count() == 50L)
  }

  test("iterIntersections slices are pinned: an append mid-iteration " +
      "does not leak into later intervals") {
    val st = newStore()
    val ks = st.shardedWrite(evDf(4000), WriteOpts("t", NRows(500)),
      i => s"shard$i", targetRowsPerShard = 2000L)
    val it = st.iterIntersections(ks)
    val first = it.next()
    // writer lands AFTER iteration started (boundaries already planned)
    st.get(ks.last).write(
      Seq((3999L, -1.0), (3998L, -1.0)).toDF("t", "v"),
      WriteOpts("t", NRows(500))): Unit
    val restRows = it.map(_.slices.values.map(_.count()).sum).sum
    val firstRows = first.slices.values.map(_.count()).sum
    // keep-none dedup: the two appended rows DUPLICATE existing t
    // values only in value space, not row space — a pinned iteration
    // counts exactly the 4000 pre-append rows
    assert(firstRows + restRows == 4000L,
      s"pinned zipper must see the pre-append corpus, got " +
        s"${firstRows + restRows}")
  }
}
